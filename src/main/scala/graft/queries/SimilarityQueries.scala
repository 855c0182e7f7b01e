package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.Similarity

/** ANN search queries over `embeddings` (C12). `q19_cosine_topk` in
  * CoreQueries is the exact baseline; this adds the LSH-bucketed scale path.
  */
object SimilarityQueries {

  /** Corpus row count, cached per (session, dir): the data-scaling knobs
    * ([[Similarity.planesFor]], the fixed-width-regime guards below) need n,
    * but an eager `count()` job on every query construction is waste — the
    * declared queries share one count per session and testdata dir.
    */
  private[queries] def embCount(s: SparkSession, dir: String): Long =
    BackboneRegistry.scalarOrBuild(s, s"embCount:$dir") {
      Tables.embeddings(s, dir).count()
    }

  /** Driver-collected prefix-centroid artifact at list count `kc` —
    * ascending-cid (ids, vectors), cached per (session, dir, kc) like the
    * other bounded model artifacts here (embCount, trainedCent, the
    * whitened profile). This is the SAME kc-row artifact every staged arm
    * broadcasts/collects for assignment; r16 also drives probe-list
    * selection and the query vector from it (vec 0 is inside the prefix),
    * so a staged probe spends zero Spark jobs on selection.
    */
  private[queries] def centArtifact(s: SparkSession, dir: String,
                                    kc: Int): (Seq[Long], Seq[Seq[Float]]) =
    BackboneRegistry.scalarOrBuild(s, s"ivfcentart:$kc:$dir") {
      Similarity.collectCent(Tables.embeddings(s, dir)
        .filter(col("vec_id") < kc)
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))
    }

  /** Driver-collected residual PQ codebook at list count `kc`, cached per
    * (session, dir, kc) — the bounded M·K model artifact the staged IVF-PQ
    * arms encode and ADC-rank with.
    */
  private[queries] def pqCbArtifact(s: SparkSession, dir: String, kc: Int)
      : (Seq[Seq[Long]], Seq[Seq[Seq[Double]]]) =
    BackboneRegistry.scalarOrBuild(s, s"pqcbart:$kc:$dir") {
      val emb = Tables.embeddings(s, dir)
      val cent = emb.filter(col("vec_id") < kc)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      Similarity.collectCodebook(
        Similarity.pqCodebookResidual(emb, cent, centroidsN = kc))
    }

  /** Query vector `queryId` read from the prefix artifact (valid whenever
    * queryId < kc, which every declared probe here satisfies).
    */
  private[queries] def queryVecFromArtifact(art: (Seq[Long], Seq[Seq[Float]]),
                                            queryId: Long): Array[Float] = {
    val i = art._1.indexOf(queryId)
    // r17, ADVICE: name the id instead of an IndexOutOfBounds on -1
    require(i >= 0, s"query id $queryId not in the centroid artifact " +
      s"(${art._1.size} entries)")
    art._2(i).toArray
  }

  /** The standard staged-probe selection: query vector = corpus row
    * `queryId`, probe lists = its `nprobe` nearest centroids under the
    * spec-pinned driver-side rule ([[Similarity.nearestCidsFor]] — the
    * bit-identical TakeOrdered replacement).
    */
  private[queries] def probeSelection(s: SparkSession, dir: String, kc: Int,
                                      nprobe: Int = 2, queryId: Long = 0L)
      : (Array[Float], Seq[Long]) = {
    val art = centArtifact(s, dir, kc)
    val qe = queryVecFromArtifact(art, queryId)
    (qe, Similarity.nearestCidsFor(qe, art._1, art._2, nprobe))
  }

  /** ADAPTIVE code width for a query family whose DuckDB oracle must be
    * rendered at the SAME width the Spark plan used: [[apply]] resolves
    * [[Similarity.planesFor]] (cached per (session, dir)) and records the
    * resolution; [[forOracle]] is the width the oracle text renders with.
    *
    * This retires round ≤8's fixed-width regime guard (which REFUSED
    * corpora past `targetBucketRows·2^floor` rather than diverge from a
    * frozen oracle text): the oracle is now rendered at dump time, AFTER
    * `Verify` has run every query against its single target dir, so "the
    * most recent resolution in this JVM" is exactly the width the dumped
    * SQL must carry, at ANY corpus size. A dump that runs NO query of the
    * family (dev-only `Verify <dir> <out> names...` filtering) renders at
    * the floor — the width every driver-scale corpus resolves to anyway.
    */
  private final class AdaptiveWidth(floor: Int) {
    // Width depends only on the corpus (row count of `dir`), so the oracle
    // lookup is keyed by dir ALONE — a JVM verifying two dirs of different
    // scale (or concurrent suites) renders each dir's oracle at ITS width,
    // not at whichever dir resolved last (the r9 volatile-slot defect).
    private val byDir = scala.collection.concurrent.TrieMap[String, Int]()
    def apply(s: SparkSession, dir: String): Int = {
      val p = BackboneRegistry.scalarOrBuild(s, s"planes$floor:$dir") {
        Similarity.planesFor(embCount(s, dir), floor)
      }
      byDir(dir) = p
      p
    }
    /** Width the oracle for `dir` renders with: the resolution recorded by
      * a query run against that dir — or, when no query of the family has
      * run in this JVM yet (r16, ADVICE: rendering an above-floor dir's
      * oracle before executing its query produced the floor text, an
      * order-dependent spurious mismatch), the SAME resolution computed
      * from the corpus through the active session. The floor is only the
      * last resort (no session, or `dir` unreadable — the no-arg
      * `oracleSql` dump's empty dir), which is also what every
      * driver-scale corpus resolves to.
      */
    def forOracle(dir: String): Int =
      byDir.getOrElse(dir,
        org.apache.spark.sql.SparkSession.getActiveSession
          .flatMap(s => scala.util.Try(apply(s, dir)).toOption)
          .getOrElse(floor))
  }

  /** Code Hamming radius for the LSH top-k: 3 of 16 planes disagreeing
    * (81% agreement — the same selectivity regime as the pre-widening 2-of-8)
    * keeps the candidate pool big enough to fill k at small corpus sizes.
    */
  val lshTopKHamming = 3

  /** Top-10 by cosine among LSH candidates (code Hamming <= 3 from the
    * query's code) — the approximate variant of q19.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10, maxHamming = lshTopKHamming)

  /** Top-10 via IVF probing (2 of 16 inverted lists searched). */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, dir), queryId = 0L)

  /** Lloyd iterations for the declared TRAINED-codebook query (small so the
    * unrolled oracle CTE chain stays readable; the operator default is 3).
    */
  val trainedIters = 2

  /** Top-10 via IVF over a TRAINED codebook: the full
    * train→assign→probe→search path, end-to-end. Possible to oracle because
    * [[Similarity.trainCentroids]] computes every cluster mean by
    * sort-then-sum — bit-identical across partitionings and engines.
    */
  def ivfTrainedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, queryId = 0L,
      trained = Some(Similarity.trainCentroids(emb, iters = trainedIters,
        nOpt = Some(embCount(s, dir)))))
  }

  /** Top-10 by int8-quantized cosine — ranking never touches the float
    * vectors after quantization.
    */
  def quantTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.quantTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10)

  /** Top-10 by PQ asymmetric distance: the corpus ranked purely from its
    * 8-subspace product-quantization codes against the query's broadcast
    * inner-product lookup table ([[Similarity.pqTopK]]).
    */
  def pqTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10)

  /** Top-10 via IVF-PQ ([[Similarity.ivfPqTopK]]): probe the 2 nearest
    * inverted lists, rank the survivors purely from their PQ codes — the
    * composed billion-scale serving shape, oracled end to end.
    */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10,
      nOpt = Some(embCount(s, dir)))

  /** Top-10 by cosine in the random-projection-REDUCED space (64→16 dims,
    * [[Similarity.withRandomProjection]]): the JL bandwidth/FLOP cut
    * composed with the q19 broadcast-and-TakeOrdered search shape.
    */
  /** Label-centroid similarity matrix over mean-pooled embeddings
    * ([[Similarity.meanPoolCentroids]]): pool each label's vectors into one
    * centroid (exact decimal sums — partial-aggregable, engine-exact), then
    * the pairwise cosine between the 10 centroids — the cluster-separation
    * diagnostic (which classes overlap in embedding space) and the pooling
    * primitive every chunk→doc embedding pipeline needs. The matrix join
    * runs over one bounded row per label, broadcast.
    */
  /** How many consecutive vec_ids form one multi-vector "document" for the
    * late-interaction query (the oracle SQL derives from this too).
    */
  val maxSimGroup = 10

  /** `sim_maxsim` — LATE-INTERACTION retrieval (the ColBERT scoring shape):
    * embeddings are grouped into multi-vector documents (`vec_id div 10`),
    * the query is document 0's vector set, and each candidate document
    * scores `Σ_q max_d dot(q, d)` — every query vector finds its best
    * counterpart in the candidate, so partial matches count where a single
    * pooled-vector cosine would wash them out. Top-10 documents by score.
    *
    * Scale shape: the query's vectors broadcast (bounded — one document);
    * per-candidate-vector work is |Q| codegen'd dots in the scan stage, and
    * both reductions (max per query-vector, sum per document) are
    * partial-aggregable groupBys. Engine-exact: maxima are 6-rounded then
    * summed as DECIMAL, so the cross-vector sum is order-independent.
    */
  def maxSim(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = Tables.embeddings(s, dir)
      .select(expr(s"vec_id div $maxSimGroup").as("doc"),
        col("vec_id"), col("embedding"))
    val q = v.filter(col("doc") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    v.filter(col("doc") =!= 0)
      .join(broadcast(q))
      .select(col("doc"), col("qid"),
        graft.functions.VectorOps.dot(col("embedding"), col("qe")).as("d"))
      .groupBy("doc", "qid").agg(max(col("d")).as("mx"))
      .groupBy("doc").agg(sum(round(col("mx"), 6).cast("decimal(18,6)")).as("sdec"))
      .select(col("doc"), round(col("sdec").cast("double"), 6).as("maxsim"))
      .orderBy(desc("maxsim"), asc("doc"))
      .limit(10)
  }

  def poolMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val cent = Similarity.meanPoolCentroids(Tables.embeddings(s, dir))
    val a = cent.select(col("label").as("l1"), col("centroid").as("ca"))
    val b = cent.select(col("label").as("l2"), col("centroid").as("cb"))
    a.join(broadcast(b), col("l1") < col("l2"))
      .select(col("l1"), col("l2"),
        round(Similarity.doubleCosine("ca", "cb"), 6).as("cos_sim"))
      .orderBy("l1", "l2")
  }

  /** Per-dimension embedding distribution profile
    * ([[Similarity.dimProfile]]): mean and sd of each of the 64 dimensions
    * over the corpus — the statistics a whitening step trains on, and the
    * drift check an embedding pipeline runs when the encoder changes.
    */
  def dimProfile(s: SparkSession, dir: String): DataFrame =
    Similarity.dimProfile(Tables.embeddings(s, dir)).orderBy("pos")

  /** `sim_silhouette` — simplified silhouette of the label clustering in
    * cosine-distance terms: per vector, a = distance to its OWN label
    * centroid, b = distance to the NEAREST OTHER centroid, s = (b−a)/max(a,b)
    * ∈ [−1, 1]; reported as per-label means. The partition-quality audit
    * that complements the serving-side readings (C53's recall says how well
    * probes retrieve; this says how SEPARATED the partitions are — a label
    * with mean s near 0 explains a bad nprobe curve before any probe runs).
    * Scale shape: 10 centroids broadcast, one corpus scan scores every
    * vector against all of them (bounded ×k work per row), per-label means
    * partial-aggregate; nothing pairwise, nothing corpus².
    * Determinism: centroid means are exact decimal sums ÷ count (the
    * [[Similarity.meanPoolCentroids]] contract), per-vector cosines are
    * fixed-fold doubles, s is one double division rounded to 6, means use
    * the round-then-decimal-sum pattern.
    */
  def silhouette(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    silhouetteOf(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("ev")))
  }

  /** The silhouette rollup over any (vec_id, label, ev ARRAY<DOUBLE>)
    * corpus — shared by the raw reading and the whitened twin
    * (`sim_silhouette_white`), so the "did whitening separate the
    * partitions" comparison cannot drift in its arithmetic.
    */
  private def silhouetteOf(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cent = Similarity.meanPoolCentroids(
      emb.select(col("label"), col("ev").as("embedding")), vecCol = "embedding")
      .select(col("label").as("clab"), col("centroid"))
    val agg = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("clab"),
        Similarity.doubleCosine("ev", "centroid").as("c"))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"),
        max(when(col("clab") === col("label"), col("c"))).as("own"),
        max(when(col("clab") =!= col("label"), col("c"))).as("oth"))
    val sil = agg.select(col("label"),
      round(
        when(greatest(lit(1.0) - col("own"), lit(1.0) - col("oth")) === 0.0, 0.0)
          .otherwise((col("own") - col("oth"))
            / greatest(lit(1.0) - col("own"), lit(1.0) - col("oth"))), 6).as("sil"))
    sil.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("sil").cast("decimal(18,6)")).as("sdec"))
      .select(col("label"), col("n"),
        round(col("sdec").cast("double") / col("n"), 6).as("mean_sil"))
      .orderBy("label")
  }

  val pcaRounds = 6

  /** `sim_pca` — the corpus's top principal direction
    * ([[graft.operators.Spectral.topComponent]]): one scan reduces the
    * corpus to d² exact decimal Gram cells, then 6 rounds of scaled-integer
    * power iteration on the driver (bounded by the embedding WIDTH, never
    * the corpus) yield the leading loadings, eigenvalue, and
    * explained-variance ratio — the anisotropy audit ([[dimProfile]] sees
    * marginal spread per axis; this sees the dominant JOINT direction) run
    * before whitening, dimension pruning, or diagnosing a vector store whose
    * similarities are saturated by one direction.
    */
  /** The collected Gram cells, once per (session, dir) — every spectral
    * consumer (top component, projection, deflation) derives from this one
    * scan's d² numbers.
    */
  private def pcaCells(s: SparkSession, dir: String): Map[(Int, Int), BigInt] = {
    import org.apache.spark.sql.functions.col
    BackboneRegistry.scalarOrBuild(s, s"pca:cells:$dir") {
      graft.operators.Spectral.gram(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding").as("vec")))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> BigInt(r.getDecimal(2).unscaledValue()))
        .toMap
    }
  }

  /** The trained PCA artifact (scale-1e9 eigenvector + scale-1e6 λ, λ/trace),
    * computed once per (session, dir) — `sim_pca` renders it, `sim_pca_project`
    * applies it, `sim_pca2` deflates past it; the Gram scan runs once for all.
    */
  private def pcaModel(s: SparkSession, dir: String): (Array[BigInt], Long, Long) =
    BackboneRegistry.scalarOrBuild(s, s"pca:top:$dir") {
      graft.operators.Spectral.powerIteration(
        pcaCells(s, dir), Similarity.dims, pcaRounds)
    }

  def pca(s: SparkSession, dir: String): DataFrame = {
    val (v, lam6, evr6) = pcaModel(s, dir)
    graft.operators.Spectral.renderComponent(s, v, lam6, evr6).orderBy("dim")
  }

  /** `sim_pca2` — the SECOND principal direction via Hotelling deflation
    * ([[graft.operators.Spectral.deflate]]): subtract the trained top
    * component's rank-one term from the cached Gram cells (pure driver
    * integer math — the corpus is NOT re-scanned) and power-iterate the
    * residual. Reported per dimension with λ₂, λ₂'s share of the RESIDUAL
    * variance, and the scale-1e9 orthogonality dot v₁·v₂ (near 0 — the
    * deflation's own audit). Top-2 is where spectral diagnosis usually
    * stops for embedding stores: "is the anisotropy one rogue direction or
    * a plane"; repeating deflate+iterate extends to top-k at d² driver
    * cost per extra component.
    */
  def pca2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val d = Similarity.dims
    val (v1, _, _) = pcaModel(s, dir)
    val g2 = graft.operators.Spectral.deflate(pcaCells(s, dir), v1, d)
    val (v2, lam6, evr6) = graft.operators.Spectral.powerIteration(g2, d, pcaRounds)
    val ortho9 = ((0 until d).map(i => v1(i) * v2(i)).sum /
      BigInt(graft.operators.Spectral.vecScale)).toLong
    graft.operators.Spectral.renderComponent(s, v2, lam6, evr6)
      .select(col("dim"), col("v"), col("loading"),
        col("eigenvalue").as("eigenvalue2"),
        col("explained_ratio").as("explained_residual"),
        lit(ortho9).as("ortho9"))
      .orderBy("dim")
  }

  /** `sim_pca_project` — APPLY the trained component (closing the
    * train-without-apply gap the same way `text_bpe_apply` closed C156):
    * every vector's scalar projection onto the top principal direction, one
    * fixed-fold dot per row against the broadcast-literal eigenvector,
    * rolled up per label (n, envelope, decimal-exact mean). The reading: a
    * label whose projections sit far from 0 rides the dominant direction —
    * the per-class anisotropy map that says which classes a whitening step
    * would move most, and whether the top component is a class signal or a
    * corpus-wide bias to remove.
    */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (v, _, _) = pcaModel(s, dir)
    val pv = array(v.map(b => lit(b.toLong / 1.0e9)).toIndexedSeq: _*)
    Tables.embeddings(s, dir)
      .select(col("label"),
        round(aggregate(
          zip_with(col("embedding"), pv, (x, y) => x.cast("double") * y),
          lit(0.0), (acc, p) => acc + p), 6).as("p"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min("p").as("lo"), max("p").as("hi"),
        sum(col("p").cast("decimal(18,6)")).as("sdec"))
      .select(col("label"), col("n"), col("lo"), col("hi"),
        round(col("sdec").cast("double") / col("n"), 6).as("mean_proj"))
      .orderBy("label")
  }

  /** Nearest-centroid classification audit: assign every vector to the
    * closest mean-pooled LABEL centroid ([[Similarity.meanPoolCentroids]])
    * and cross-tabulate true label × predicted — the cluster-purity /
    * label-noise diagnostic (an off-diagonal mass says two classes overlap
    * in embedding space or labels are dirty). The 10 centroids broadcast;
    * assignment is the established aggregation-argmax (no window over the
    * corpus); the confusion matrix is a partial-aggregable count.
    */
  def centroidAssign(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("ev"))
    val cent = Similarity.meanPoolCentroids(
      emb.select(col("label"), col("ev").as("embedding")), vecCol = "embedding")
      .select(col("label").as("pred"), col("centroid"))
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("pred"),
        Similarity.doubleCosine("ev", "centroid").as("ccos"))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"),
        max_by(col("pred"), struct(col("ccos"), (-col("pred")).as("tie"))).as("pred"))
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred")
  }

  def rpTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Similarity.withRandomProjection(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("rp"))
    val q = emb.filter(col("vec_id") === 0).select(col("rp").as("qr"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("rp"), col("qr")), 6).as("rp_cos"))
      .orderBy(desc("rp_cos"), asc("vec_id"))
      .limit(10)
  }

  /** Recall@k depth for the declared ANN-quality query. */
  val recallK = 10

  /** Shared recall rollup: recall@[[recallK]] of `approx` (any served ANN
    * arm's top-k, column `vec_id`) against the exact brute-force arm — ONE
    * definition of both the ground-truth arm ([[Similarity.bruteForceTopK]],
    * the same code q19 serves with) and the hits/recall aggregation, so the
    * three declared recall rows cannot drift from each other or from the
    * served exact path.
    */
  private def recallOf(s: SparkSession, dir: String,
                       approx: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val exact = Similarity
      .bruteForceTopK(Tables.embeddings(s, dir), queryId = 0L, k = recallK)
      .select("vec_id")
    exact.join(approx.select("vec_id"), "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(lit(recallK).as("k"), col("hits"),
        round(col("hits") / lit(recallK.toDouble), 6).as("recall"))
  }

  /** ANN quality measurement: recall@[[recallK]] of the approximate LSH arm
    * ([[lshTopK]]) against the exact brute-force cosine top-k — the
    * "measure, don't guess" harness an ANN deployment runs before trusting
    * an index configuration. Both arms end in a bounded TakeOrdered top-k,
    * so the final intersection join touches 2·k rows no matter the corpus;
    * at 100 TB the cost is the arms themselves (the exact arm is the one
    * full scan you pay to CALIBRATE the cheap path you then serve with).
    *
    * And it earns its keep immediately: on the synthetic corpus this reads
    * recall 0.1 while [[recallIvf]] reads 1.0 — the true neighbors' cosines
    * are low (~0.3), so their random-hyperplane codes differ in far more
    * than [[lshTopKHamming]] bits, while the coarse IVF lists still contain
    * them. Exactly the configuration signal (widen the Hamming ball / probe
    * more lists / prefer IVF here) the harness exists to produce; see
    * DESIGN.md.
    */
  def recallLsh(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Similarity.lshTopK(Tables.embeddings(s, dir),
      queryId = 0L, k = recallK, maxHamming = lshTopKHamming))

  /** Table count / Hamming radius for the multi-table LSH query — chosen
    * from a measured (L, H) sweep at sf0.01: L=4 H=4 reads recall 0.3
    * touching 4% of the corpus (vs 0.1 single-table; L=8 buys nothing more
    * here). The sweep is the harness's whole point — see DESIGN.md.
    */
  val multiTables = 4
  val multiHamming = 4

  /** Top-10 via multi-table LSH ([[Similarity.lshMultiTopK]]): [[multiTables]]
    * independent plane families, candidate union across tables — the
    * amplification configuration the recall harness motivates (single-table
    * recall 0.1 → multi-table 0.3 here; the corpus's true neighbors sit at
    * ~0.3 cosine ≈ 72°, intrinsically hard for hyperplane codes — which is
    * exactly why [[recallIvf]]'s 1.0 says serve THIS corpus via IVF).
    */
  def lshMultiTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.lshMultiTopK(Tables.embeddings(s, dir), queryId = 0L, k = 10,
      tables = multiTables, maxHamming = multiHamming)

  /** Recall@[[recallK]] of the multi-table arm — the third calibration row:
    * LSH single-table < multi-table ≤ IVF on this corpus.
    */
  def recallMulti(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, lshMultiTopK(s, dir))

  /** [[recallLsh]]'s twin for the IVF arm: recall@[[recallK]] of
    * [[Similarity.ivfTopK]] (2-probe, 16 stand-in centroids) against exact
    * brute force — together the two recall rows calibrate BOTH served ANN
    * paths against ground truth.
    */
  def recallIvf(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Similarity.ivfTopK(Tables.embeddings(s, dir),
      queryId = 0L, k = recallK, centroidsNOpt = Some(Similarity.ivfCentroids)))

  /** Recall@[[recallK]] of the PQ arms — the last two served paths without
    * a measured reading (C35 ships their top-k queries; these close the
    * C53 harness loop over EVERY arm): pure-code ADC ranking, and the
    * composed IVF-PQ serving shape. The PQ arms rank by quantized inner
    * product, so their recall reads the CODEBOOK's fidelity on this corpus
    * — the number that decides m/k before anyone trusts ADC ranking.
    */
  def recallPq(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Similarity.pqTopK(Tables.embeddings(s, dir),
      queryId = 0L, k = recallK))

  def recallIvfPq(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Similarity.ivfPqTopK(Tables.embeddings(s, dir),
      queryId = 0L, k = recallK, nOpt = Some(embCount(s, dir))))

  /** ADC candidate pool fed to the exact re-rank — 5× the served k, the
    * conventional re-rank budget.
    */
  val rerankPool = 50

  /** `sim_pq_rerank` — the fix the C177 readings demand: coarse-rank by PQ
    * codes (top-[[rerankPool]] by ADC — cheap, code-only), then EXACT
    * cosine re-rank of just those survivors against the full vectors. This
    * is the standard production serving shape (codes decide who gets read,
    * full vectors decide the order), and it turns the measured 0.3
    * ADC-only recall into [[recallPqRerank]]'s reading at the cost of
    * [[rerankPool]] full-vector reads per query.
    */
  def pqRerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val cands = Similarity.pqTopK(emb, queryId = 0L, k = rerankPool)
      .select("vec_id")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.join(cands, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id")).limit(recallK)
  }

  /** Recall@[[recallK]] of the re-ranked PQ arm — the C177 counterpart
    * reading that justifies shipping the two-stage shape.
    */
  def recallPqRerank(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, pqRerank(s, dir))

  /** Pool sizes the re-rank curve walks — from no-pool-slack (k itself) to
    * 20× the served k.
    */
  val rerankCurve = Seq(10, 50, 100, 200)

  /** `sim_rerank_curve` — C178's diagnostic made quantitative: recall@10 of
    * the two-stage PQ arm at each candidate-pool size in [[rerankCurve]].
    * Where the curve saturates separates ORDER errors (fixed by any pool >
    * k) from POOL misses (true neighbors the codebook ranks so low that
    * only a bigger pool recovers them) — the reading that prices the
    * full-vector-reads-per-query budget against the m/k codebook spend.
    */
  def rerankRecallCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val exact = Similarity
      .bruteForceTopK(emb, queryId = 0L, k = recallK)
      .select("vec_id").localCheckpoint(true)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    // The ADC ranking is computed ONCE at the largest pool; a smaller pool's
    // candidate set is that ranking's prefix (identical deterministic
    // (adc DESC, vec_id) order), and the exact re-rank cosines are attached
    // once to the pooled candidates — so the codebook derivation and the
    // corpus encoding are paid once, not once per curve point (r12 ADVICE:
    // the per-pool pqTopK calls re-encoded the corpus 4×).
    val maxPool = rerankCurve.max
    // unpartitioned window is ≤ maxPool rows by construction
    val byAdc = graft.operators.BoundedWindow.ordered("pool",
      desc("adc"), asc("vec_id"))
    val pooled = Similarity.pqTopK(emb, queryId = 0L, k = maxPool)
      .withColumn("adc_rank", row_number().over(byAdc))
      .join(emb, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("adc_rank"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
          .as("cos_sim"))
      .localCheckpoint(true)
    rerankCurve.map { pool =>
      val arm = pooled.filter(col("adc_rank") <= pool)
        .orderBy(desc("cos_sim"), asc("vec_id")).limit(recallK)
      exact.join(arm.select("vec_id"), "vec_id")
        .agg(count(lit(1)).as("hits"))
        .select(lit(pool.toLong).as("pool"), lit(recallK).as("k"), col("hits"),
          round(col("hits") / lit(recallK.toDouble), 6).as("recall"))
    }.reduce(_ unionAll _).orderBy("pool")
  }

  /** The nprobe sweep the curve query walks — doubling steps up to half the
    * coarse codebook, the range an IVF deployment actually tunes over.
    */
  val nprobeCurve = Seq(1, 2, 4, 8)

  /** `sim_nprobe_curve` — the TUNING CURVE as a declared query: recall@k of
    * the IVF arm at each nprobe in [[nprobeCurve]], one row per setting.
    * The single-point recall rows (C53/C169) calibrate a chosen
    * configuration; this is how the configuration gets CHOSEN — the shape
    * (where recall saturates vs how many lists each probe scans) is the
    * recall/latency trade a serving team reads off before pinning nprobe.
    * All four arms share the one exact ground-truth top-k (bounded,
    * [[recallK]] rows) and the same assignment; each arm's cost is
    * ∝ the lists it probes, so the whole curve costs about one unfiltered
    * scan — the measure-don't-guess discipline at configuration-sweep
    * granularity.
    */
  def recallCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val exact = Similarity
      .bruteForceTopK(emb, queryId = 0L, k = recallK)
      .select("vec_id").localCheckpoint(true)
    nprobeCurve.map { np =>
      val ap = Similarity.ivfTopK(emb, queryId = 0L, k = recallK,
        centroidsNOpt = Some(Similarity.ivfCentroids), nprobe = np)
      exact.join(ap.select("vec_id"), "vec_id")
        .agg(count(lit(1)).as("hits"))
        .select(lit(np.toLong).as("nprobe"), lit(recallK).as("k"), col("hits"),
          round(col("hits") / lit(recallK.toDouble), 6).as("recall"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** Code-width FLOOR for the declared batch-ANN query: 8 planes keeps the
    * Hamming-≤1 ball dense enough to fill k at verify-scale corpora. The
    * width itself is data-scaled ([[Similarity.planesFor]] with this floor),
    * so the join-key cardinality grows with the corpus — the floor only
    * applies below 64·2^8 ≈ 16k vectors, which is also the regime where the
    * fixed-width oracle below stays valid.
    */
  val batchPlanes = 8

  private val batchWidth = new AdaptiveWidth(batchPlanes)

  /** Batch ANN: top-5 neighbors for every query in a 3-vector batch, over a
    * code space scaled to the corpus (floored at [[batchPlanes]]; the
    * oracle renders at the SAME resolved width — [[AdaptiveWidth]]).
    */
  def batchTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    import org.apache.spark.sql.functions.col
    Similarity.lshBatchTopK(emb, emb.filter(col("vec_id") < 3), k = 5,
        planesOpt = Some(batchWidth(s, dir)))
      .orderBy("query_id", "rn")
  }

  /** Batch ANN served from the STAGED LSH index
    * ([[Similarity.probeStagedLshBatch]]): the same top-5-per-query surface
    * as [[batchTopK]], but the corpus side reads ONLY the buckets the
    * batch's Hamming-≤1 probe codes hash to — the many-queries serving
    * shape (`sim_batch_topk` is the batch-scoring shape). The 3 query rows
    * are fetched as bounded values (query parameters, not a corpus scan)
    * and coded at the width the index was staged with.
    */
  def batchStagedTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val planes = stagedWidth(s, dir)
    val (lshT, _) = annTables(s, dir)
    val q = Similarity.withLshCode(
        Tables.embeddings(s, dir).filter(col("vec_id") < 3), "embedding", planes)
      .select(col("vec_id"), col("embedding"), col("lsh_code")).collect()
    Similarity.probeStagedLshBatch(s, lshT,
        q.map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2))).toSeq,
        planes, k = 5)
      .orderBy("query_id", "rn")
  }

  /** Recall depth for the batch serving arm = the depth it serves (top-5
    * per query), so the measurement grades exactly what a caller gets.
    */
  val batchRecallK = 5

  /** `sim_batch_ivf_staged` — the many-queries serving shape on the IVF
    * arm (r15): [[batchStagedTopK]] serves batches from the staged LSH
    * index, but this corpus's single-query readings say IVF is the arm
    * that serves (recall 1.0 vs LSH 0.1) — a batch path that exists only
    * on the weak arm is a gap. Each of the 3 query vectors selects its 2
    * nearest lists over the bounded centroid artifact; the probe unions
    * the lists into ONE pruned scan ([[Similarity.probeStagedIvfBatch]]),
    * each (query, candidate) pair re-checks membership in its own probe
    * set, exact cosine ranks per query (self excluded, the batch
    * contract). Probe I/O ∝ probed lists, never corpus × batch.
    */
  def batchIvfStagedTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // served from the ADAPTIVE index (r16): the batch probe's I/O is the
    // union of the queries' probe lists, so it inherits C201's flat line
    // instead of the fixed arm's n/8-per-list reads
    val ivfT = annAdaptiveTable(s, dir)
    val kc = adaptiveIvfK(s, dir)
    // r16: batch queries and per-query probe lists come off the collected
    // prefix artifact (the gate queries are inside the prefix), via the
    // spec-pinned driver-side selection — zero Spark jobs before the one
    // pruned probe scan
    val art = centArtifact(s, dir, kc)
    val queries = (0L until 3L).map { qid =>
      val qv = queryVecFromArtifact(art, qid)
      (qid, qv, Similarity.nearestCidsFor(qv, art._1, art._2, 2))
    }
    Similarity.probeStagedIvfBatch(s, ivfT, queries, k = batchRecallK)
      .orderBy("query_id", "rn")
  }

  /** `sim_recall_batch_ivf` — the batch IVF arm's reading per query vs the
    * exact self-excluded truth, next to [[recallBatch]]'s LSH reading: the
    * pair says which arm a batch scorer should route through on this
    * corpus, at the depth it actually serves.
    */
  def recallBatchIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val approx = batchIvfStagedTopK(s, dir)
      .select(col("query_id"), col("cand_id").as("vec_id"), lit(1).as("hit"))
    val exact = (0L until 3L).map { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qe"))
      emb.filter(col("vec_id") =!= qid).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
            .as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(batchRecallK)
        .select(lit(qid).as("query_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("hits"))
      .select(col("query_id"), lit(batchRecallK).as("k"), col("hits"),
        round(col("hits") / lit(batchRecallK.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Recall@[[batchRecallK]] of the STAGED batch-ANN arm
    * ([[batchStagedTopK]]) per query — the C53 "measure, don't guess" row
    * the r10 verdict flagged as missing: the batch serving path shipped
    * with an audited plan but no measured recall, which makes its
    * Hamming-≤1 ball a config guess. The exact arm is one bounded
    * TakeOrdered top-k per batch query (self EXCLUDED, matching the batch
    * arms' `query ≠ candidate` contract — the single-query recall rows
    * include self on both sides, so the readings differ by construction,
    * not by defect); a LEFT join from the exact arm keeps a query visible
    * even at recall 0. At 100 TB the cost is the exact calibration scans —
    * the same price every recall row already pays, ×batch size.
    */
  def recallBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val approx = batchStagedTopK(s, dir)
      .select(col("query_id"), col("cand_id").as("vec_id"), lit(1).as("hit"))
    val exact = (0L until 3L).map { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qe"))
      emb.filter(col("vec_id") =!= qid).crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
            .as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(batchRecallK)
        .select(lit(qid).as("query_id"), col("vec_id"))
    }.reduce(_ unionByName _)
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("hits"))
      .select(col("query_id"), lit(batchRecallK).as("k"), col("hits"),
        round(col("hits") / lit(batchRecallK.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Code-width FLOOR for the STAGED serving path: 8 planes = 256 code
    * values keeps Hamming-1 candidate pools dense enough to fill k at
    * testdata scale. Past `64·2^8` vectors the width scales as
    * [[Similarity.planesFor]] — probe lists grow to planes+1 literals, the
    * staged table (name, fingerprint) carries its width, and the oracle
    * renders at the same resolved width ([[AdaptiveWidth]]), so the pair
    * rehearses at ANY scale factor instead of refusing past the floor
    * regime (the r8 guard this replaced).
    */
  val stagedPlanes = 8

  private val stagedWidth = new AdaptiveWidth(stagedPlanes)

  /** Storage buckets for the staged ANN tables. 16 means a 9-code Hamming-1
    * probe can touch at most 9 buckets — the pruning PlanAuditSpec asserts.
    * At 100 TB this would be thousands (bucket count sizes the per-bucket
    * file, not the algorithm).
    */
  val stagedLshBuckets = 16
  val stagedIvfBuckets = 8

  /** The staged ANN tables (LSH-coded + IVF lists), built once per
    * (session, dir) — the serving-path amortization: staging pays the
    * shuffle, every probe after it is bucket-pruned. The name resolution
    * lives in [[BackboneRegistry]] (session-evicted, r10), re-validated
    * against the catalog so a fresh in-memory catalog in the same JVM
    * re-stages instead of trusting a cache entry only a dead session's
    * catalog knew about.
    */
  private def annTables(s: SparkSession, dir: String): (String, String) = {
    val ts = BackboneRegistry.staged(s, dir, "ann") { tag =>
      val planes = stagedWidth(s, dir)
      val lsh = s"graft_ann_lsh_p${planes}_$tag"
      val ivf = s"graft_ann_ivf_$tag"
      Staged(Seq(lsh, ivf),
        s"ann_lsh_ivf:p$planes:lb$stagedLshBuckets:ib$stagedIvfBuckets:c${Similarity.ivfCentroids}") {
        val emb = Tables.embeddings(s, dir)
        Similarity.stageLshBucketed(emb, lsh, planes, stagedLshBuckets)
        import org.apache.spark.sql.functions.col
        val cent = emb.filter(col("vec_id") < Similarity.ivfCentroids)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Similarity.stageIvfBucketed(emb, cent, ivf, stagedIvfBuckets)
      }
    }
    (ts(0), ts(1))
  }

  /** The filtered-search predicate label. */
  val filterLabel = 3

  /** The payload-carrying LSH index for filtered search — a separate staged
    * artifact so the plain index's schema contract (and its append/streaming
    * maintenance twins) stays untouched; in production the payload column
    * would live in the ONE index, this isolates the experiment.
    */
  private def annFilteredTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "annf") { tag =>
      val planes = stagedWidth(s, dir)
      val t = s"graft_ann_lshf_p${planes}_$tag"
      Staged(Seq(t), s"ann_lsh_filtered:p$planes:lb$stagedLshBuckets:pl_label:v1") {
        Similarity.stageLshBucketed(Tables.embeddings(s, dir), t, planes,
          stagedLshBuckets, payloadCols = Seq("label"))
      }
    }.head

  /** `sim_filter_topk` — filtered vector search off the staged index:
    * top-10 among `label = 3` candidates only
    * ([[Similarity.probeStagedLshFiltered]] — predicate applies INSIDE the
    * bucket-pruned probe, not as a post-filter over an unfiltered top-k
    * that would starve selective predicates).
    */
  def filteredTopK(s: SparkSession, dir: String): DataFrame = {
    val planes = stagedWidth(s, dir)
    import org.apache.spark.sql.functions.col
    val q = Similarity.withLshCode(
        Tables.embeddings(s, dir).filter(col("vec_id") === 0), "embedding", planes)
      .select(col("embedding"), col("lsh_code")).head()
    Similarity.probeStagedLshFiltered(s, annFilteredTable(s, dir),
      q.getSeq[Float](0).toArray, q.getLong(1),
      col("label") === filterLabel && col("vec_id") =!= 0, planes, k = 10)
  }

  /** `sim_recall_filter` — recall@10 of the FILTERED LSH arm against the
    * exact brute-force top-10 AMONG the predicate's population (the real
    * filtered-search metric: ground truth is filtered too — comparing
    * against the unfiltered truth would punish the predicate, not the
    * index). The C53 harness closing the C163 loop — and what it MEASURED
    * (0.3 at sf0.01, 0.0 at sf1) is why the serving recommendation moved
    * to the IVF arm: see [[recallFilterIvf]]/`sim_recall_filter_ivf`,
    * which measures the arm that holds up. This row stays as the recorded
    * negative result.
    */
  def recallFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val exact = emb.filter(col("label") === filterLabel && col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(recallK)
      .select("vec_id")
    exact.join(filteredTopK(s, dir).select("vec_id"), "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(lit(recallK).as("k"), col("hits"),
        round(col("hits") / lit(recallK.toDouble), 6).as("recall"))
  }

  /** Lists probed by the FILTERED IVF arm: 2× the unfiltered probe's 2 —
    * the filtered-search compensation lives in `nprobe` (more inverted
    * lists, each still bucket-pruned), not in a code-ball radius.
    */
  val filterNprobe = 4

  /** The payload-carrying IVF index for filtered search (r12) — the arm the
    * r11 recall measurements said to build: LSH-filtered measured 0.0 at
    * sf1 while unfiltered IVF measured 1.0, so the label column is staged
    * INTO the inverted-list rows here and the predicate applies inside the
    * pruned probe scan.
    */
  private def annFilteredIvfTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "annfivf") { tag =>
      val kc = adaptiveIvfK(s, dir)
      val t = s"graft_ann_ivff_k${kc}_$tag"
      Staged(Seq(t), s"ann_ivf_filtered:k$kc:pl_label:v2") {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, dir)
        val cent = emb.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Similarity.stageIvfBucketed(emb, cent, t, buckets = kc,
          payloadCols = Seq("label"))
      }
    }.head

  /** `sim_filter_ivf` — filtered vector search on the IVF arm: top-10 among
    * `label = 3` via [[Similarity.probeStagedIvfFiltered]] over
    * [[filterNprobe]] inverted lists (predicate in-scan, probe widened 2→4
    * as the filtered compensation). Probe-list selection runs over the
    * bounded centroid artifact, exactly like `sim_ivf_staged`.
    */
  def filteredIvfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = annFilteredIvfTable(s, dir)
    val kc = adaptiveIvfK(s, dir)
    val (qe, probeCids) = probeSelection(s, dir, kc, nprobe = filterNprobe)
    Similarity.probeStagedIvfFiltered(s, t, qe, probeCids,
      col("label") === filterLabel && col("vec_id") =!= 0, k = 10)
  }

  /** `sim_recall_filter_ivf` — recall@10 of the filtered IVF arm against
    * the exact predicate-scoped truth: the C165 harness pointed at the arm
    * the r11 numbers said can actually serve this corpus. The spec gates
    * it at ≥ the LSH filtered arm's measured recall.
    */
  def recallFilterIvf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val exact = emb.filter(col("label") === filterLabel && col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(recallK)
      .select("vec_id")
    exact.join(filteredIvfTopK(s, dir).select("vec_id"), "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(lit(recallK).as("k"), col("hits"),
        round(col("hits") / lit(recallK.toDouble), 6).as("recall"))
  }

  /** Top-10 by cosine via the STAGED LSH index: the probe reads only the
    * planes+1 Hamming-≤1 probe-code buckets of the staged table (bucket
    * pruning, plan-audited as `SelectedBucketsCount < total`) — the
    * serving-path answer to "similarity search at 100 TB", where
    * [[lshTopK]]'s scan-everything shape is the batch-scoring answer. The
    * query vector + code are fetched as one bounded row (a query
    * parameter, not a corpus scan). Code width resolves adaptively with
    * the corpus ([[stagedWidth]]) and the query row is coded at the SAME
    * width the table was staged with.
    */
  def lshStagedTopK(s: SparkSession, dir: String): DataFrame = {
    val planes = stagedWidth(s, dir)
    val (lshT, _) = annTables(s, dir)
    import org.apache.spark.sql.functions.col
    val q = Similarity.withLshCode(
        Tables.embeddings(s, dir).filter(col("vec_id") === 0), "embedding", planes)
      .select(col("embedding"), col("lsh_code")).head()
    Similarity.probeStagedLsh(s, lshT, q.getSeq[Float](0).toArray, q.getLong(1),
      planes, k = 10)
  }

  /** Top-10 by cosine via the STAGED IVF index: probe the 2 nearest inverted
    * lists by reading only their buckets. Probe-list selection runs over the
    * 16-row centroid table (a model artifact — bounded driver traffic).
    */
  /** The staged IVF-PQ table, cached with the same discipline as
    * [[annTables]] (registry-held, session-evicted, catalog-revalidated).
    * r16 (verdict item 1): staged at the ADAPTIVE list count with one
    * bucket per list — the composed billion-scale arm inherits the flat
    * probe line C201 proved on the plain arm, instead of pinning the 16
    * lists SCALE_r14 measured growing ~2×/decade. At driver scale the
    * count resolves to the 16 floor, so the oracle texts coincide.
    */
  private def pqTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "ann_pq") { tag =>
      val kc = adaptiveIvfK(s, dir)
      val t = s"graft_ann_ivfpq_k${kc}_$tag"
      // v3: the coarse assignment routes above the floor (r16) — staged
      // content differs from the v2 exact-argmax layout past kc = 16, so
      // cross-JVM reuse of a v2 table would desync from the routed oracles
      Staged(Seq(t), s"ann_ivfpq:k$kc:pqk${Similarity.pqK}:res1:v3") {
        val emb = Tables.embeddings(s, dir)
        import org.apache.spark.sql.functions.col
        val cent = emb.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Similarity.stageIvfPqBucketed(emb, cent,
          Similarity.pqCodebookResidual(emb, cent, centroidsN = kc), t,
          buckets = kc, centroidsN = kc)
      }
    }.head

  /** Top-10 by ADC via the STAGED IVF-PQ index: the probe reads only the 2
    * nearest lists' buckets and ranks their members from stored PQ codes —
    * [[ivfPqStagedTopK]] is to `sim_ivfpq_topk` what `sim_ivf_staged` is to
    * `sim_ivf_topk`: the same math, with list membership AND compressed
    * codes as storage properties instead of per-query recomputation. Same
    * oracle as the one-shot composition (same centroids, codebook, probes).
    */
  def ivfPqStagedTopK(s: SparkSession, dir: String): DataFrame = {
    val t = pqTable(s, dir)
    val kc = adaptiveIvfK(s, dir)
    val emb = Tables.embeddings(s, dir)
    val (_, probeCids) = probeSelection(s, dir, kc)
    Similarity.probeStagedIvfPq(s, t, emb, 0L, probeCids, k = 10,
      centroidsN = kc, centArtOpt = Some(centArtifact(s, dir, kc)),
      cbArtOpt = Some(pqCbArtifact(s, dir, kc)))
  }

  /** ADC pool for the composed staged re-rank — the pool where C179's
    * rerank curve saturates on this corpus (order errors gone by 50,
    * pool misses recovered by 100).
    */
  val stagedRerankPool = 100

  /** `sim_ivfpq_staged_rerank` — the PRODUCTION billion-scale serving
    * composition the r14 verdict named (item 2): probe the staged
    * inverted lists, ADC-rank their members from stored codes to a
    * [[stagedRerankPool]] candidate pool (I/O: 2 lists' worth of 8-byte
    * codes), then read ONLY the pool's full vectors and exact-cosine
    * re-rank to the served k. The pieces existed — staged IVF-PQ probe
    * (C68), exact re-rank (C178) — but only composed unstaged; this is
    * the chain a vector store actually serves with: codes decide who gets
    * read, full vectors decide the order. The pool's full-vector fetch is
    * a k-bounded id join against the corpus (in production: the primary
    * store's point lookups), never a corpus scan.
    */
  def ivfPqStagedRerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = pqTable(s, dir)
    val kc = adaptiveIvfK(s, dir)
    val emb = Tables.embeddings(s, dir)
    val (qe, probeCids) = probeSelection(s, dir, kc)
    val pool = Similarity.probeStagedIvfPq(s, t, emb, 0L, probeCids,
      k = stagedRerankPool, centroidsN = kc,
      centArtOpt = Some(centArtifact(s, dir, kc)),
      cbArtOpt = Some(pqCbArtifact(s, dir, kc))).select("vec_id")
    emb.join(pool, "vec_id")
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), typedlit(qe)), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(recallK)
  }

  /** `sim_recall_ivfpq_rerank` — what the composition buys, measured: the
    * pure-ADC staged arm's recall (C177's `sim_recall_ivfpq`) vs this —
    * the re-rank stage can only fix ORDER within the probed lists' pool,
    * so the reading is bounded above by the IVF probe's own recall
    * (`sim_recall_ivf`) and below by the ADC arm's.
    */
  def recallIvfPqRerank(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, ivfPqStagedRerank(s, dir))

  def ivfStagedTopK(s: SparkSession, dir: String): DataFrame =
    ivfStagedPool(s, dir, k = 10)

  /** The fixed staged probe at a caller-chosen k — `sim_ivf_staged` serves
    * k = 10; the staged hybrid row pools k = armDepth from the same index.
    */
  private[queries] def ivfStagedPool(s: SparkSession, dir: String,
                                     k: Int): DataFrame = {
    val (_, ivfT) = annTables(s, dir)
    val (qe, probeCids) = probeSelection(s, dir, Similarity.ivfCentroids)
    Similarity.probeStagedIvf(s, ivfT, qe, probeCids, k = k)
  }

  /** ADAPTIVE inverted-list count for the staged IVF serving arm — the r14
    * verdict's one measured scale deviation, closed with the LSH arm's own
    * idiom ([[AdaptiveWidth]]): the fixed staged arm pins
    * [[Similarity.ivfCentroids]] = 16 lists for oracle renderability, so
    * its probe I/O is nprobe/16 of the CORPUS at any size (SCALE_r14 §1
    * measured the warm probe growing ~2×/decade). This resolver stages at
    * [[Similarity.centroidsFor]](n) ≈ √(n/256) lists and records the
    * per-dir resolution, so the oracle text renders at the SAME count the
    * plan served with — at ANY corpus size, like the LSH width.
    */
  private final class AdaptiveCentroids {
    private val byDir = scala.collection.concurrent.TrieMap[String, Int]()
    def apply(s: SparkSession, dir: String): Int = {
      val k = BackboneRegistry.scalarOrBuild(s, s"ivfkc:$dir") {
        Similarity.centroidsFor(embCount(s, dir))
      }
      byDir(dir) = k
      k
    }
    /** Same resolution rule as [[AdaptiveWidth.forOracle]] (r16, ADVICE):
      * recorded per-dir resolution, else compute it from the corpus via
      * the active session, else the floor.
      */
    def forOracle(dir: String): Int =
      byDir.getOrElse(dir,
        org.apache.spark.sql.SparkSession.getActiveSession
          .flatMap(s => scala.util.Try(apply(s, dir)).toOption)
          .getOrElse(Similarity.ivfCentroids))
  }

  private val adaptiveIvfK = new AdaptiveCentroids

  /** The per-dir adaptive list count, exposed to the OTHER query families
    * that compose the staged-IVF shape (media, hybrid — r16 verdict item 1:
    * every composed serving arm stages at the data-scaled count, not the
    * 16-list floor the SCALE_r14 rehearsal measured growing ~2×/decade).
    * One resolution per dir, shared with the sim_* adaptive arms.
    */
  private[graft] def adaptiveKc(s: SparkSession, dir: String): Int =
    adaptiveIvfK(s, dir)
  private[queries] def adaptiveKcForOracle(dir: String): Int =
    adaptiveIvfK.forOracle(dir)

  /** The data-scaled staged IVF index: [[Similarity.centroidsFor]] lists,
    * stored at ONE BUCKET PER LIST — with the fixed [[stagedIvfBuckets]],
    * pruning happens at bucket granularity, so probe I/O would stay
    * nprobe/buckets of the corpus no matter how many lists exist; making
    * the bucket count track the list count is what turns probe I/O into
    * nprobe·(n/kc) ≈ nprobe·256·√n bytes. At 100 TB that's tens of
    * thousands of buckets — the regime bucketed tables are built for.
    */
  private def annAdaptiveTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "annivfa") { tag =>
      val kc = adaptiveIvfK(s, dir)
      val t = s"graft_ann_ivfa_k${kc}_$tag"
      Staged(Seq(t), s"ann_ivf_adaptive:k$kc:v1") {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, dir)
        val cent = emb.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Similarity.stageIvfBucketed(emb, cent, t, buckets = kc)
      }
    }.head

  /** `sim_ivf_staged_adaptive` — the staged IVF probe at the DATA-SCALED
    * list count (r14 verdict item 1): same probe rule as `sim_ivf_staged`
    * (2 nearest lists by centroid cosine, exact cosine top-10 of their
    * members, bucket-pruned scan), but the list count — and the bucket
    * count under it — resolves per corpus, so the probe's I/O share
    * SHRINKS as the corpus grows instead of staying a fixed 1/8. At the
    * driver's scale factors [[Similarity.centroidsFor]] resolves to the 16
    * floor (the two arms coincide, each rendering from its own
    * resolution); the decade rehearsal is where they part.
    */
  def ivfStagedAdaptiveTopK(s: SparkSession, dir: String): DataFrame =
    ivfStagedAdaptivePool(s, dir, k = 10)

  /** The adaptive staged probe at a caller-chosen k — `sim_ivf_staged_
    * adaptive` serves k = 10; the staged hybrid row's dense arm pools
    * k = armDepth from the same index (r16: the hybrid serving path rides
    * the data-scaled arm, not the fixed 16-list one).
    */
  private[queries] def ivfStagedAdaptivePool(s: SparkSession, dir: String,
                                             k: Int): DataFrame = {
    val kc = adaptiveIvfK(s, dir)
    val t = annAdaptiveTable(s, dir)
    val (qe, probeCids) = probeSelection(s, dir, kc)
    Similarity.probeStagedIvf(s, t, qe, probeCids, k = k)
  }

  /** `sim_recall_ivf_adaptive` — the adaptive arm's own reading (every
    * served arm carries one): recall@[[recallK]] against the exact truth.
    * At the driver floor it must read what `sim_recall_ivf` reads; at the
    * decade points it prices what the √n list count costs in recall at the
    * fixed nprobe = 2 — the number that decides whether nprobe should
    * scale too.
    */
  def recallIvfAdaptive(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, ivfStagedAdaptiveTopK(s, dir))

  /** The TWO-LEVEL-staged adaptive index ([[Similarity.assignTwoLevel]] —
    * the SCALE_r15 §1 staging-superlinearity mitigation, built): same
    * data-scaled list/bucket count as [[annAdaptiveTable]], assignment
    * routed through √kc super-lists instead of the full exact argmax.
    */
  private def annTwoLevelTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "annivf2") { tag =>
      val kc = adaptiveIvfK(s, dir)
      val g = Similarity.groupsFor(kc)
      val t = s"graft_ann_ivf2_k${kc}_$tag"
      Staged(Seq(t), s"ann_ivf_2level:k$kc:g$g:v1") {
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, dir)
        val cent = emb.filter(col("vec_id") < kc)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        Similarity.stageIvfBucketedTwoLevel(emb, cent, g, t, buckets = kc)
      }
    }.head

  /** `sim_ivf_staged_2level` — the adaptive staged probe over ROUTED
    * assignment: list membership comes from the 2·n√kc two-level argmax
    * instead of the n·kc exact one (the build-cost trade the SCALE_r15
    * far point priced at 266 s), probe rule unchanged (2 nearest lists by
    * exact centroid cosine — the probe side is a bounded artifact, only
    * the corpus-side assignment routes).
    */
  def ivfStaged2LevelTopK(s: SparkSession, dir: String): DataFrame = {
    val kc = adaptiveIvfK(s, dir)
    val t = annTwoLevelTable(s, dir)
    val (qe, probeCids) = probeSelection(s, dir, kc)
    Similarity.probeStagedIvf(s, t, qe, probeCids, k = 10)
  }

  /** `sim_recall_ivf_2level` — what routing costs the PROBE: recall of the
    * two-level-staged arm against the exact truth, read next to
    * `sim_recall_ivf_adaptive` (same lists, exact assignment).
    */
  def recallIvf2Level(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, ivfStaged2LevelTopK(s, dir))

  /** `sim_assign_2level` — what routing costs the ASSIGNMENT, measured
    * directly: the fraction of vectors whose routed list equals their
    * exact-argmax list. This is the number that prices the 2√kc/kc build
    * saving BEFORE anyone serves from the routed index (a vector on the
    * wrong list is invisible to probes of its true list — recall decay is
    * bounded by this rate).
    */
  def assign2LevelAgree(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val kc = adaptiveIvfK(s, dir)
    val g = Similarity.groupsFor(kc)
    val emb = Tables.embeddings(s, dir)
    val cent = emb.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val exact = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        graft.functions.VectorOps.cosine(col("embedding"), col("ce")).as("ccos"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("tie")))
        .as("cid_exact"))
    val routed = Similarity.assignTwoLevel(emb, cent, g)
      .select(col("vec_id"), col("cid").as("cid_routed"))
    exact.join(routed, "vec_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cid_exact") === col("cid_routed"), 1).otherwise(0))
          .as("agree"))
      .select(col("n"), col("agree"),
        round(col("agree") / col("n"), 6).as("agree_rate"))
  }

  /** The compaction lifecycle's own staging table (distinct from
    * [[annTables]]' shared index so the lifecycle can drop/rebuild freely
    * without invalidating the other staged-arm queries mid-session).
    */
  def compactIvfTable(dir: String): String =
    "graft_ann_ivfc_" + BackboneRegistry.dirTag(dir)

  /** `sim_index_compact` — the serving-index MAINTENANCE lifecycle the
    * append paths created and r13's verdict item 2 demanded an answer for:
    * every [[Similarity.appendStagedIvf]] lands one file per batch per
    * touched bucket, so after N ingest batches a bucket-pruned probe reads
    * N files per pruned list — serving-latency decay that every real index
    * answers with compaction. The flow: stage the base quarter of the
    * corpus as IVF lists, append the other three quarters as three ingest
    * batches (each against the SAME centroid artifact), probe, then
    * [[Bucketing.compactDelta]] — table service ∝ appended data, exactly
    * the q97 machinery pointed at an ANN index — and probe again. The
    * post-compact probe IS the declared result, oracled as the full-corpus
    * staged probe ([[ivfProbeSql]] — same centroids, same 2 probe lists);
    * the flow itself requires the pre/post answers equal, so a compaction
    * that lost, doubled, or re-assigned any row fails loudly before the
    * oracle even runs. File-count and plan degradation/restoration are
    * spec-pinned (`CompactDeltaSpec`/`PlanAuditSpec`).
    */
  def indexCompact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = compactIvfTable(dir)
    val emb = Tables.embeddings(s, dir)
    val cent = emb.filter(col("vec_id") < Similarity.ivfCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val art = centArtifact(s, dir, Similarity.ivfCentroids)
    Similarity.stageIvfBucketed(emb.filter(col("vec_id") % 4 === 0), cent, t,
      stagedIvfBuckets, centArtOpt = Some(art))
    (1 to 3).foreach { m =>
      Similarity.appendStagedIvf(emb.filter(col("vec_id") % 4 === m), cent, t,
        stagedIvfBuckets, centArtOpt = Some(art))
    }
    val (qe, probeCids) = probeSelection(s, dir, Similarity.ivfCentroids)
    val pre = Similarity.probeStagedIvf(s, t, qe, probeCids, k = 10)
      .collect().toSeq
    val rewritten = graft.operators.Bucketing.compactDelta(s, t, "cid",
      Seq("cid"), stagedIvfBuckets, idCols = Seq("vec_id"))
    require(rewritten.nonEmpty,
      "three appended batches must leave at least one multi-file bucket")
    val post = Similarity.probeStagedIvf(s, t, qe, probeCids, k = 10)
    require(post.collect().toSeq == pre,
      "compaction changed the probe answer — rows lost or re-assigned")
    post
  }

  /** The deleted-id residue classes for the deletion lifecycle — two
    * delete batches (10% of the corpus each), so the tombstone table
    * accumulates across batches the way a live store's does.
    */
  val deleteResidues = Seq(3L, 7L)

  def deleteIvfTable(dir: String): String =
    "graft_ann_ivfd_" + BackboneRegistry.dirTag(dir)

  /** `sim_index_delete` — TOMBSTONE DELETES for a staged index, the last
    * lifecycle op the serving family owed (append = C29, file decay =
    * C195, retrain = the rotation row; a real store also takes deletion
    * requests — GDPR erasure, content takedowns, expired documents).
    * Flow: stage the corpus as IVF lists → two delete batches land as
    * tombstones ([[Similarity.deleteStagedIvf]] — assigned against the
    * pinned centroid artifact, cost ∝ batch, co-keyed with the index so
    * probes prune BOTH sides) → probe with the tombstone anti-join
    * (deletes visible immediately) → [[graft.operators.Bucketing
    * .compactDeletes]] rewrites ONLY the tombstone-holding buckets →
    * tombstones dropped → probe WITHOUT the anti-join. The flow requires
    * the pre/post answers equal — a compaction that lost a live row or
    * resurrected a deleted one fails before the oracle runs; the declared
    * result is the post-apply probe, oracled as the staged probe over the
    * corpus minus the deleted residues.
    */
  def indexDelete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = deleteIvfTable(dir)
    val tomb = t + "_tomb"
    val kc = adaptiveIvfK(s, dir)
    val emb = Tables.embeddings(s, dir)
    val cent = emb.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val art = centArtifact(s, dir, kc)
    stageIvfAt(emb, cent, t, kc, centArtOpt = Some(art))
    graft.operators.Bucketing.dropStaged(s, tomb)
    deleteResidues.foreach { r =>
      Similarity.deleteStagedIvf(emb.filter(col("vec_id") % 10 === r), cent,
        tomb, buckets = kc, centroidsN = kc, centArtOpt = Some(art))
    }
    val (qe, probeCids) = probeSelection(s, dir, kc)
    val pre = Similarity.probeStagedIvfDeletes(s, t, tomb, qe, probeCids, k = 10)
      .collect().toSeq
    val rewritten = graft.operators.Bucketing.compactDeletes(s, t, tomb,
      "vec_id", "cid", Seq("cid"), buckets = kc)
    require(rewritten.nonEmpty,
      "two tombstoned batches must dirty at least one bucket")
    graft.operators.Bucketing.dropStaged(s, tomb)
    val post = Similarity.probeStagedIvf(s, t, qe, probeCids, k = 10)
    require(post.collect().toSeq == pre,
      "applying tombstones changed the probe answer — a live row was lost " +
        "or a deleted one resurrected")
    post
  }

  def lshDeleteTable(dir: String): String =
    "graft_ann_lshd_" + BackboneRegistry.dirTag(dir)

  /** `sim_lsh_delete` — tombstone deletion for the staged LSH arm (r16),
    * completing the deletion story across ALL FOUR staged index families
    * (plain IVF = C205, IVF-PQ codes = C211, lexical = C208, LSH = this).
    * The arm's storage key IS the code, so the case is bucket-local like
    * C205/C211: delete batches are coded against the SAME plane family the
    * index was staged with ([[Similarity.deleteStagedLsh]] — tombstone ∝
    * batch, landing in exactly the buckets of the rows they shadow), the
    * tombstoned probe drops deleted rows immediately, and
    * [[graft.operators.Bucketing.compactDeletes]] (keyed by `lsh_code`)
    * rewrites only the dirty buckets. Flow requires pre ≡ post; the
    * declared result is the post-apply probe, oracled as the staged LSH
    * probe over the corpus minus the deleted residues at the dir's
    * resolved code width.
    */
  def indexLshDelete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val planes = stagedWidth(s, dir)
    val t = lshDeleteTable(dir)
    val tomb = t + "_tomb"
    val emb = Tables.embeddings(s, dir)
    Similarity.stageLshBucketed(emb, t, planes, stagedLshBuckets)
    graft.operators.Bucketing.dropStaged(s, tomb)
    deleteResidues.foreach { r =>
      Similarity.deleteStagedLsh(emb.filter(col("vec_id") % 10 === r), tomb,
        planes, stagedLshBuckets)
    }
    val q = Similarity.withLshCode(
        emb.filter(col("vec_id") === 0), "embedding", planes)
      .select(col("embedding"), col("lsh_code")).head()
    val (qe, qcode) = (q.getSeq[Float](0).toArray, q.getLong(1))
    val pre = Similarity.probeStagedLshDeletes(s, t, tomb, qe, qcode, planes,
      k = 10).collect().toSeq
    val rewritten = graft.operators.Bucketing.compactDeletes(s, t, tomb,
      "vec_id", "lsh_code", Seq("lsh_code"), stagedLshBuckets)
    require(rewritten.nonEmpty,
      "two tombstoned batches must dirty at least one bucket")
    graft.operators.Bucketing.dropStaged(s, tomb)
    val post = Similarity.probeStagedLsh(s, t, qe, qcode, planes, k = 10)
    require(post.collect().toSeq == pre,
      "applying tombstones changed the LSH probe answer — a live row was " +
        "lost or a deleted one resurrected")
    post
  }

  def pqDeleteTable(dir: String): String =
    "graft_ann_ivfpqd_" + BackboneRegistry.dirTag(dir)

  /** `sim_ivfpq_delete` — TOMBSTONE DELETES for the staged IVF-PQ CODE
    * table (r16, verdict item 4): C205 gave the plain staged IVF arm a
    * deletion path, but the compressed-code arm — the one a billion-scale
    * store actually keeps hot — had none, so a GDPR erasure against it
    * meant a full restage. The case is bucket-local (codes are co-keyed by
    * `cid`, the C205 shape verbatim): delete batches are assigned against
    * the SAME pinned centroid artifact the codes were staged with
    * ([[Similarity.deleteStagedIvf]] — tombstone cost ∝ batch), the
    * tombstoned ADC probe shadows deleted rows immediately
    * ([[Similarity.probeStagedIvfPq]]'s anti-join arm), and
    * [[graft.operators.Bucketing.compactDeletes]] rewrites ONLY the dirty
    * buckets. The flow requires pre ≡ post like C205; the declared result
    * is the post-apply ADC probe, oracled as the composed IVF-PQ ranking
    * over the corpus minus the deleted residues (the codebook stays the
    * stage-time artifact — deletion removes ROWS, not the trained model).
    */
  def indexPqDelete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = pqDeleteTable(dir)
    val tomb = t + "_tomb"
    val kc = adaptiveIvfK(s, dir)
    val emb = Tables.embeddings(s, dir)
    val cent = emb.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val art = centArtifact(s, dir, kc)
    val cbArt = pqCbArtifact(s, dir, kc)
    Similarity.stageIvfPqBucketed(emb, cent,
      Similarity.pqCodebookResidual(emb, cent, centroidsN = kc), t,
      buckets = kc, centroidsN = kc)
    graft.operators.Bucketing.dropStaged(s, tomb)
    deleteResidues.foreach { r =>
      Similarity.deleteStagedIvf(emb.filter(col("vec_id") % 10 === r), cent,
        tomb, buckets = kc, centroidsN = kc, centArtOpt = Some(art))
    }
    val (_, probeCids) = probeSelection(s, dir, kc)
    val pre = Similarity.probeStagedIvfPq(s, t, emb, 0L, probeCids, k = 10,
      centroidsN = kc, tombTableOpt = Some(tomb), centArtOpt = Some(art),
      cbArtOpt = Some(cbArt)).collect().toSeq
    val rewritten = graft.operators.Bucketing.compactDeletes(s, t, tomb,
      "vec_id", "cid", Seq("cid"), buckets = kc)
    require(rewritten.nonEmpty,
      "two tombstoned batches must dirty at least one bucket")
    graft.operators.Bucketing.dropStaged(s, tomb)
    val post = Similarity.probeStagedIvfPq(s, t, emb, 0L, probeCids, k = 10,
      centroidsN = kc, centArtOpt = Some(art), cbArtOpt = Some(cbArt))
    require(post.collect().toSeq == pre,
      "applying tombstones changed the ADC probe answer — a live row was " +
        "lost or a deleted one resurrected")
    post
  }

  /** The rotation lifecycle's live serving name (distinct from every other
    * staged arm's tables, like [[compactIvfTable]], so the lifecycle can
    * stage/swap/drop freely without invalidating them mid-session).
    */
  def rotateIvfTable(dir: String): String =
    "graft_ann_ivfr_" + BackboneRegistry.dirTag(dir)

  /** Query batch for the rotation gate (r16, verdict item 2): vec_ids
    * 0..2 — the batch-recall harness's frame. The r15 gate decided the
    * production swap from ONE query's recall@10, a 0.1-granularity
    * statistic on a sample of one; the gate now reads per-query recalls
    * for both codebooks and swaps on the MEAN.
    */
  val rotateGateQueries = 3

  /** `sim_index_rotate` — TRAINED-ARTIFACT ROTATION for a staged index,
    * the remaining real vector-store lifecycle after compaction closed
    * file decay (r14 verdict item 4): retraining reshapes the inverted
    * lists NON-MONOTONICALLY (`sim_recall_ivf_trained` measured 0.9 vs the
    * stand-in's 1.0 at sf0.01, but 0.8 vs 0.7 at sf0.001), so a codebook
    * rollout that swaps blindly can make serving WORSE — the lifecycle
    * gates on the recall harness before touching the live name.
    *
    * Flow: stage v1 (the stand-in prefix codebook, at the adaptive list
    * count — routed above the floor, [[stageIvfAt]]) as the LIVE table →
    * train v2 ([[trainedCent]]) and stage it NEXT TO the live table under
    * a staging name → measure both arms' recall@[[recallK]] for EVERY
    * query in the [[rotateGateQueries]]-vector gate batch against each
    * query's exact truth → swap ONLY if v2's mean ≥ v1's (atomic catalog
    * rename; the loser is dropped either way) → probe through the live
    * name for every gate query and require, in-flow, that each answer
    * equals the winning codebook's assignment-consistent one-shot arm — a
    * swap that served the wrong generation fails loudly before the oracle
    * runs.
    *
    * The DECLARED result is the gate's decision frame — one row per gate
    * query with both arms' hits/recall, plus the batch means and
    * `swapped` — because that comparison IS the operator; the oracle
    * re-derives every row from the two arms' shared probe texts. At
    * sf0.01 the gate REFUSES the rotation; at sf0.001 it rotates — both
    * branches exercised, both oracle-checked. At 100 TB each stage is the
    * cost already priced for the staged arms (train ∝ sample, stage ∝
    * corpus with the routed assignment above the floor, gate = the
    * calibration scans × batch size, swap = one catalog op).
    */
  def indexRotate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val live = rotateIvfTable(dir)
    val next = live + "_next"
    val kc = adaptiveIvfK(s, dir)
    val emb = Tables.embeddings(s, dir)
    val centV1 = emb.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val centV2 = trainedCent(s, dir)
    stageIvfAt(emb, centV1, live, kc,
      centArtOpt = Some(centArtifact(s, dir, kc)))
    stageIvfAt(emb, centV2, next, kc)

    // r16: gate queries and both arms' probe-list selections come off the
    // collected centroid artifacts (prefix cached per (dir, kc), trained
    // per dir) via the spec-pinned driver-side rule — the gate's Spark
    // jobs are the probes and truth scans themselves, not selections
    val artV1 = centArtifact(s, dir, kc)
    val artV2 = BackboneRegistry.scalarOrBuild(s, s"ivfcentart_trained:$dir")(
      Similarity.collectCent(centV2))
    val gateQs = (0L until rotateGateQueries).map { qid =>
      (qid, queryVecFromArtifact(artV1, qid))
    }
    def probeOf(table: String, art: (Seq[Long], Seq[Seq[Float]]),
                qe: Array[Float]): DataFrame =
      Similarity.probeStagedIvf(s, table, qe,
        Similarity.nearestCidsFor(qe, art._1, art._2, 2), k = recallK)
    val perQuery = gateQs.map { case (qid, qe) =>
      val exact = Similarity.bruteForceTopK(emb, queryId = qid, k = recallK)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val h1 = probeOf(live, artV1, qe)
        .select("vec_id").collect().map(_.getLong(0)).count(exact)
      val h2 = probeOf(next, artV2, qe)
        .select("vec_id").collect().map(_.getLong(0)).count(exact)
      (qid, h1, h2)
    }
    val (s1, s2) = (perQuery.map(_._2).sum, perQuery.map(_._3).sum)
    val swapped = s2 >= s1
    if (swapped) {
      graft.operators.Bucketing.dropStaged(s, live)
      s.sql(s"ALTER TABLE `$next` RENAME TO `$live`")
    } else {
      graft.operators.Bucketing.dropStaged(s, next)
    }

    // the post-swap probes through the LIVE name must serve the winning
    // codebook's answers for EVERY gate query — catches a swap that kept
    // the loser. The reference is assignment-consistent: exact argmax at
    // the floor, the routed chain above it (what the staging used).
    val (winCent, winArt) = if (swapped) (centV2, artV2) else (centV1, artV1)
    gateQs.foreach { case (qid, qe) =>
      val post = probeOf(live, winArt, qe).collect().toSeq
      val ref = referenceProbe(s, emb, winCent, winArt, kc, qe).collect().toSeq
      require(post == ref,
        s"post-swap probe for gate query $qid diverged from the winning " +
          "codebook's one-shot arm")
    }

    val denom = (gateQs.length * recallK).toDouble
    perQuery.map { case (qid, h1, h2) =>
      (qid, recallK, h1.toLong, h1 / recallK.toDouble,
        h2.toLong, h2 / recallK.toDouble, s1 / denom, s2 / denom, swapped)
    }.toDF("query_id", "k", "v1_hits", "v1_recall", "v2_hits", "v2_recall",
        "v1_mean", "v2_mean", "swapped")
      .select(col("query_id"), col("k"), col("v1_hits"),
        round(col("v1_recall"), 6).as("v1_recall"), col("v2_hits"),
        round(col("v2_recall"), 6).as("v2_recall"),
        round(col("v1_mean"), 6).as("v1_mean"),
        round(col("v2_mean"), 6).as("v2_mean"), col("swapped"))
      .orderBy("query_id")
  }

  /** The one-shot probe consistent with [[stageIvfAt]]'s assignment: the
    * exact-argmax [[Similarity.ivfTopK]] at the floor, the routed
    * assignment above it — the in-flow reference a post-swap probe must
    * reproduce.
    */
  private def referenceProbe(s: SparkSession, emb: DataFrame, cent: DataFrame,
                             art: (Seq[Long], Seq[Seq[Float]]), kc: Int,
                             qe: Array[Float]): DataFrame = {
    import org.apache.spark.sql.functions._
    val cids = Similarity.nearestCidsFor(qe, art._1, art._2, 2)
    val assigned =
      if (kc > Similarity.ivfCentroids)
        emb.join(Similarity.assignTwoLevel(emb, cent, Similarity.groupsFor(kc))
          .select(col("vec_id"), col("cid")), "vec_id")
      else
        // r16: kernel argmax — the reference is one projection + filter
        emb.select(col("vec_id"), col("embedding"),
          Similarity.nearestCidCol(col("embedding"), art._1, art._2).as("cid"))
    assigned
      .filter(col("cid").isin(cids: _*))
      .select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), typedlit(qe)), 6)
          .as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(recallK)
  }

  /** The trained centroid artifact, once per (session, dir) — the staged
    * trained arm's probe selection and staging share one training run.
    * r16: trained at the ADAPTIVE list count, like every composed arm.
    */
  private def trainedCent(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.scalarOrBuild(s, s"ivfcent_trained:$dir") {
      Similarity.trainCentroids(Tables.embeddings(s, dir),
        k = adaptiveIvfK(s, dir), iters = trainedIters,
        nOpt = Some(embCount(s, dir)))
    }

  /** Stage a corpus into `cent`'s inverted lists at the resolved list
    * count, ROUTING the assignment above the floor (r16, verdict item 6):
    * at the 16-list floor the exact broadcast argmax is cheap and the
    * oracle texts expect it; above it, exact assignment is the n^1.5
    * staging wall C206 measured (266 s at 2M vectors), so the build
    * defaults to [[Similarity.assignTwoLevel]] — the 5.7×-measured routed
    * path — and the kc-parameterized oracles render the routed chain for
    * that regime.
    */
  private def stageIvfAt(emb: DataFrame, cent: DataFrame, table: String,
                         kc: Int,
                         centArtOpt: Option[(Seq[Long], Seq[Seq[Float]])] = None)
      : Unit =
    if (kc > Similarity.ivfCentroids)
      Similarity.stageIvfBucketedTwoLevel(emb, cent, Similarity.groupsFor(kc),
        table, buckets = kc)
    else
      Similarity.stageIvfBucketed(emb, cent, table, buckets = kc,
        centArtOpt = centArtOpt)

  /** The staged TRAINED-IVF index: the corpus bucketed into the k-means‖-
    * trained lists instead of the prefix stand-in's — at the adaptive list
    * count, routed above the floor ([[stageIvfAt]]).
    */
  private def annTrainedTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "annivft") { tag =>
      val kc = adaptiveIvfK(s, dir)
      val t = s"graft_ann_ivft_k${kc}_$tag"
      Staged(Seq(t), s"ann_ivf_trained:k$kc:it$trainedIters:v2") {
        stageIvfAt(Tables.embeddings(s, dir), trainedCent(s, dir), t, kc)
      }
    }.head

  /** `sim_ivf_trained_staged` — the trained codebook SERVED (r14): C17's
    * `sim_ivf_trained` proves the train→assign→probe math end-to-end but
    * re-scans and re-assigns per query; production serves a trained
    * codebook the way every staged arm serves — list membership as a
    * storage key, probes bucket-pruned. This stages the corpus into the
    * TRAINED lists and answers through [[Similarity.probeStagedIvf]];
    * same oracle text as the one-shot row (same training chain, same
    * 2-probe rule), because staging must not change the answer.
    */
  def ivfTrainedStagedTopK(s: SparkSession, dir: String): DataFrame = {
    val t = annTrainedTable(s, dir)
    val qe = queryVecFromArtifact(
      centArtifact(s, dir, Similarity.ivfCentroids), 0L)
    val art = BackboneRegistry.scalarOrBuild(s, s"ivfcentart_trained:$dir")(
      Similarity.collectCent(trainedCent(s, dir)))
    Similarity.probeStagedIvf(s, t, qe,
      Similarity.nearestCidsFor(qe, art._1, art._2, 2), k = 10)
  }

  /** `sim_recall_ivf_trained` — the trained-IVF arm's own reading (every
    * served arm carries one; the trained arm predates the rule and slipped
    * through until its staged twin landed): recall@[[recallK]] of the
    * staged trained probe against the raw exact truth. Measured: 0.8 vs
    * the stand-in's 0.7 at sf0.001 but 0.9 vs 1.0 at sf0.01 — two Lloyd
    * iterations RESHAPE the lists, helping where the stand-in was weak and
    * costing a boundary neighbor where it wasn't, which is EXACTLY why a
    * retrained-codebook rollout gates on this reading before swapping
    * artifacts instead of assuming training is monotone.
    */
  def recallIvfTrained(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, ivfTrainedStagedTopK(s, dir))

  /** The WHITENED corpus: every embedding standardized against the
    * [[Similarity.dimProfile]] — (vec_id, label, embedding ARRAY<DOUBLE>).
    * The profile is the same bounded model artifact `sim_dim_profile`
    * declares; the transform is scan-local (literal means/sds in the
    * plan), so whitening costs nothing beyond the read at any corpus size.
    * The COLLECTED profile (dims rows of two doubles) is cached per
    * (session, dir) like the other bounded model artifacts (r15, ADVICE) —
    * before, every whitened query paid the full-corpus profile aggregation
    * again at construction time, once for staging and once for the probe.
    */
  private def whitened(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(s, dir)
    val profile = BackboneRegistry.scalarOrBuild(s, s"dimprofile:$dir") {
      Similarity.collectProfile(Similarity.dimProfile(emb))
    }
    Similarity.standardizeWith(
      emb.select(col("vec_id"), col("label"), col("embedding")), profile)
  }

  /** The staged whitened-IVF index — `sim_recall_white`'s serving arm:
    * the SAME staged shape as the raw production path (cid-keyed inverted
    * lists, bucket-pruned probes), with assignment and ranking in whitened
    * space. A separate artifact so the raw arm's tables stay untouched.
    */
  private def annWhiteTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "annwhite") { tag =>
      import org.apache.spark.sql.functions._
      val t = s"graft_ann_ivfw_$tag"
      Staged(Seq(t), s"ann_ivf_white:ib$stagedIvfBuckets:c${Similarity.ivfCentroids}:v1") {
        val w = whitened(s, dir)
        val cent = w.filter(col("vec_id") < Similarity.ivfCentroids)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val assigned = w.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("embedding"), col("cid"),
            Similarity.doubleCosine("embedding", "ce").as("ccos"))
          .groupBy("vec_id")
          .agg(first(col("embedding")).as("embedding"),
            max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("tie"))).as("cid"))
        graft.operators.Bucketing.writeBucketed(
          assigned.select(col("vec_id"), col("embedding"), col("cid")),
          t, "cid", stagedIvfBuckets)
      }
    }.head

  /** Top-[[recallK]] via the staged WHITENED IVF arm: probe-list selection
    * over the whitened centroid prefix, 2 lists read bucket-pruned,
    * whitened-cosine ranking of the survivors.
    */
  def whiteIvfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = annWhiteTable(s, dir)
    val w = whitened(s, dir)
    val qw = w.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Double](0).toArray
    val probeCids = w.filter(col("vec_id") < Similarity.ivfCentroids)
      .withColumn("qe", typedlit(qw))
      .select(col("vec_id").as("cid"),
        Similarity.doubleCosine("embedding", "qe").as("qcos"))
      .orderBy(desc("qcos"), asc("cid"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    graft.operators.Bucketing.read(s, t)
      .filter(col("cid").isin(probeCids: _*))
      .withColumn("qe", typedlit(qw))
      .select(col("vec_id"),
        round(Similarity.doubleCosine("embedding", "qe"), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(recallK)
  }

  /** `sim_recall_white` — the spectral→serving loop closed with a number
    * (r13 verdict item 4): C185/C193 measured a dominant direction and C72
    * trained the transform that removes it, but nothing measured whether
    * whitening helps the SERVED arm. This is recall@[[recallK]] of the
    * staged whitened-IVF probe against the RAW exact truth — the same
    * ground truth `sim_recall_ivf` is scored on, so the two rows answer
    * "should the production IVF path standardize before staging?" like
    * with like. Either reading is an answer (a win justifies a whitening
    * stage; parity-or-worse records that this corpus doesn't need one);
    * guessing is not. Measured: raw 1.0 vs whitened — see the spec/SURVEY.
    */
  def recallWhite(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, whiteIvfTopK(s, dir))

  /** `sim_silhouette_white` — the whitened twin of `sim_silhouette`: the
    * label-partition separation audit re-run on standardized vectors, the
    * second number the whitening decision reads (recall says what the
    * probe retrieves; this says whether the partitions got more or less
    * separated when the dominant direction's scale was removed).
    */
  def silhouetteWhite(s: SparkSession, dir: String): DataFrame =
    silhouetteOf(whitened(s, dir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label"),
        org.apache.spark.sql.functions.col("embedding").as("ev")))

  /** DuckDB rendering of the full trained-IVF path: the [[trainedIters]]
    * Lloyd iterations unrolled as CTE generations (assignment argmax via
    * ROW_NUMBER with the same (cos DESC, cid) tie rule as Spark's `max_by`;
    * per-position means as list_sum over a SORTED value list — the identical
    * fixed summation order as the Scala side), then assign-all, probe the 2
    * nearest lists, exact cosine top-10.
    */
  /** The Lloyd-chain CTEs alone (`sample`, `cent0`, generations up to
    * `cent$iters`) — shared by the trained probe, its staged/routed twins,
    * and the rotation gate's v2 arm.
    */
  private def trainedChainCtes(k: Int, iters: Int = trainedIters,
                               sampleMax: Long = 4096L): String = {
    val d = Similarity.dims
    val gens = (1 to iters).map { i =>
      s"""asn$i AS (SELECT vec_id, cid FROM
         | (SELECT s.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |    ORDER BY ${SqlGen.cosSql("s.embedding", "c.ce")} DESC, c.cid) AS rn
         |  FROM sample s, cent${i - 1} c) t WHERE rn = 1),
         |mean$i AS (SELECT a.cid, t.pos,
         |  list_sum(list_sort(list(CAST(s.embedding[t.pos] AS DOUBLE))))/count(*) AS m
         |  FROM sample s JOIN asn$i a ON a.vec_id = s.vec_id,
         |       (SELECT range AS pos FROM range(1, ${d + 1})) t
         |  GROUP BY a.cid, t.pos),
         |new$i AS (SELECT cid, list(CAST(m AS FLOAT) ORDER BY pos) AS ce
         |          FROM mean$i GROUP BY cid),
         |cent$i AS (SELECT p.cid, coalesce(n.ce, p.ce) AS ce
         |           FROM cent${i - 1} p LEFT JOIN new$i n ON n.cid = p.cid)""".stripMargin
    }.mkString(",\n")
    s"""sample AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % (SELECT greatest(1, count(*)//$sampleMax) FROM embeddings) = 0),
       |cent0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $k),
       |$gens""".stripMargin
  }

  /** Corpus assignment to the TRAINED codebook: the exact argmax at the
    * floor, the routed two-level chain above it — exactly the regime split
    * [[stageIvfAt]] builds with. Produces `fasn(vec_id, cid)`.
    */
  private def trainedAsnCte(k: Int, iters: Int = trainedIters): String =
    if (k <= Similarity.ivfCentroids)
      s"""fasn AS (SELECT vec_id, cid FROM
         | (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${SqlGen.cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
         |  FROM embeddings e, cent$iters c) t WHERE rn = 1)""".stripMargin
    else twoLevelFrom(s"cent$iters", Similarity.groupsFor(k), "t", "fasn")

  private def ivfTrainedSql(k: Int = Similarity.ivfCentroids,
                            iters: Int = trainedIters,
                            sampleMax: Long = 4096L): String =
    s"""WITH ${trainedChainCtes(k, iters, sampleMax)},
       |${trainedAsnCte(k, iters)},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qprobe AS (SELECT cid FROM
       | (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
       |  FROM cent$iters c, q) t WHERE rn <= 2)
       |SELECT e.vec_id, round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
       |FROM embeddings e JOIN fasn a ON a.vec_id = e.vec_id JOIN qprobe p ON p.cid = a.cid, q
       |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin

  /** Shared by `sim_ivf_topk` (scan-and-assign per query) and
    * `sim_ivf_staged` (staged inverted lists, bucket-pruned probe): the two
    * plans differ in WHERE the assignment work happens — query time vs
    * staging time — but compute the same answer, which is exactly the
    * invariant worth pinning with one oracle text. The list count is a
    * parameter (r15): the ADAPTIVE staged arm renders the same text at its
    * per-dir resolved [[Similarity.centroidsFor]] count, the fixed rows at
    * the 16 floor.
    */
  private def ivfProbeSqlAt(kc: Int, where: String = "",
                            limit: Int = 10): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $kc),
       |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
       |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
       |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qprobe AS (SELECT cid FROM
       |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
       |   FROM cent c, q) t WHERE rn <= 2)
       |SELECT e.vec_id, round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
       |FROM embeddings e JOIN a ON a.vec_id = e.vec_id JOIN qprobe p ON p.cid = a.cid, q
       |${if (where.isEmpty) "" else s"WHERE $where\n"}ORDER BY cos_sim DESC, e.vec_id LIMIT $limit""".stripMargin

  private val ivfProbeSql: String = ivfProbeSqlAt(Similarity.ivfCentroids)

  /** The ADAPTIVE staged probe's oracle at an arm-pool limit — the staged
    * hybrid row's dense arm ([[RetrievalQueries]]) renders the same text
    * as `sim_ivf_staged_adaptive`, at the dir's resolved list count.
    */
  private[queries] def ivfProbePoolSql(dir: String, limit: Int): String =
    ivfProbeSqlAt(adaptiveIvfK.forOracle(dir), "", limit)

  /** Shared CTE block for the batch-IVF arm at a list count: assignment
    * (the `ivfProbeSql` chain), the 3-query frame, per-query probe lists,
    * and the ranked candidate set — the batch row reads the top-k off it,
    * the recall row joins it against per-query exact truth.
    */
  private def batchIvfCtes(kc: Int): String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $kc),
       |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
       |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
       |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |qp AS (SELECT query_id, cid FROM
       |  (SELECT q.query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.query_id
       |     ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
       |   FROM cent c, q) t WHERE rn <= 2),
       |cand AS (SELECT p.query_id, e.vec_id AS cand_id,
       |    round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
       |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id
       |       JOIN qp p ON p.cid = a.cid JOIN q ON q.query_id = p.query_id
       |  WHERE e.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, cand_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
       |  FROM cand)""".stripMargin

  private def batchIvfSql(kc: Int): String =
    s"""WITH ${batchIvfCtes(kc)}
       |SELECT query_id, cand_id, cos_sim, CAST(rn AS INTEGER) AS rn
       |FROM ranked WHERE rn <= $batchRecallK ORDER BY query_id, rn""".stripMargin

  private def recallBatchIvfSql(kc: Int): String =
    s"""WITH ${batchIvfCtes(kc)},
       |ex AS (SELECT query_id, vec_id FROM
       |  (SELECT q.query_id, e.vec_id,
       |     row_number() OVER (PARTITION BY q.query_id ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
       |   FROM embeddings e, q WHERE e.vec_id <> q.query_id) t WHERE rn <= $batchRecallK),
       |ap AS (SELECT query_id, cand_id AS vec_id FROM ranked WHERE rn <= $batchRecallK)
       |SELECT ex.query_id, $batchRecallK AS k, count(ap.vec_id) AS hits,
       |  round(count(ap.vec_id)/$batchRecallK.0, 6) AS recall
       |FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  /** The ROUTED-assignment CTE chain over an EXISTING codebook CTE
    * `centCte(cid, ce)` — the [[Similarity.assignTwoLevel]] chain rendered
    * with the same (cos DESC, id) tie rule at every level, CTE names
    * prefixed with `p` so several chains compose in one statement
    * (the rotation oracle routes both generations above the floor).
    * Produces `$out(vec_id, cid)`.
    */
  private def twoLevelFrom(centCte: String, g: Int, p: String,
                           out: String): String =
    s"""${p}sup AS (SELECT cid AS gid, ce AS ge FROM $centCte WHERE cid < $g),
       |${p}member AS MATERIALIZED (SELECT cid, ce, gid FROM
       |  (SELECT c.cid, c.ce, s.gid, ROW_NUMBER() OVER (PARTITION BY c.cid
       |     ORDER BY ${SqlGen.cosSql("c.ce", "s.ge")} DESC, s.gid) AS rn
       |   FROM $centCte c, ${p}sup s) t WHERE rn = 1),
       |${p}routed AS MATERIALIZED (SELECT vec_id, gid FROM
       |  (SELECT e.vec_id, s.gid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${SqlGen.cosSql("e.embedding", "s.ge")} DESC, s.gid) AS rn
       |   FROM embeddings e, ${p}sup s) t WHERE rn = 1),
       |$out AS (SELECT vec_id, cid FROM
       |  (SELECT e.vec_id, m.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${SqlGen.cosSql("e.embedding", "m.ce")} DESC, m.cid) AS rn
       |   FROM embeddings e JOIN ${p}routed r ON r.vec_id = e.vec_id
       |        JOIN ${p}member m ON m.gid = r.gid) t WHERE rn = 1)""".stripMargin

  /** The two-level assignment CTE block (`cent`/`sup`/`member`/`routed`/
    * `a2`) — shared by the routed probe, its recall wrap, and the
    * agreement reading.
    */
  private def twoLevelAsnCtes(kc: Int, g: Int): String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $kc),
       |${twoLevelFrom("cent", g, "", "a2")}""".stripMargin

  /** The routed probe oracle: two-level assignment, exact probe-list
    * selection (bounded artifact, like the Spark side), pruned-list
    * cosine top-10.
    */
  private def ivf2LevelProbeSql(kc: Int, where: String = "",
                                limit: Int = 10): String =
    s"""WITH ${twoLevelAsnCtes(kc, Similarity.groupsFor(kc))},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qprobe AS (SELECT cid FROM
       |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
       |   FROM cent c, q) t WHERE rn <= 2)
       |SELECT e.vec_id, round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
       |FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id JOIN qprobe p ON p.cid = a2.cid, q
       |${if (where.isEmpty) "" else s"WHERE $where\n"}ORDER BY cos_sim DESC, e.vec_id LIMIT $limit""".stripMargin

  /** The agreement oracle: exact-argmax assignment vs the routed one,
    * joined per vector, one rollup row.
    */
  private def assign2LevelSql(kc: Int): String =
    s"""WITH ${twoLevelAsnCtes(kc, Similarity.groupsFor(kc))},
       |aex AS (SELECT vec_id, cid FROM
       |  (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${SqlGen.cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |   FROM embeddings e, cent c) t WHERE rn = 1)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN x.cid = y.cid THEN 1 ELSE 0 END) AS BIGINT) AS agree,
       |  round(sum(CASE WHEN x.cid = y.cid THEN 1 ELSE 0 END) / count(*), 6) AS agree_rate
       |FROM aex x JOIN a2 y USING (vec_id)""".stripMargin

  /** DuckDB rendering of the PQ ADC path: codebook + subspace slices via a
    * range lateral, argmin codes via ROW_NUMBER with Spark `max_by`'s
    * (dist, k) tie rule, LUT from the query row, and the per-vector score
    * summed in ascending-j order (`list(ip ORDER BY j)` — the same fixed
    * fold order as the Scala side's sorted-struct aggregate).
    */
  private def pqSql(limit: Int = 10): String = {
    val (m, kk, sd) = (Similarity.pqM, Similarity.pqK, Similarity.pqSubDim)
    def sliceSql(v: String) = s"$v[j*$sd+1 : j*$sd+$sd]"
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${sd + 1}), i -> (CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))))"
    def ip(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${sd + 1}), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))"
    s"""WITH cb AS (SELECT j, vec_id AS k, ${sliceSql("embedding")} AS cw
       |            FROM embeddings, range(0, $m) t(j) WHERE vec_id < $kk),
       |sub AS (SELECT vec_id, j, ${sliceSql("embedding")} AS sv
       |        FROM embeddings, range(0, $m) t(j)),
       |codes AS (SELECT vec_id, j, k AS code FROM
       |  (SELECT s.vec_id, s.j, c.k,
       |     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
       |       ORDER BY ${l2("s.sv", "c.cw")}, c.k) AS rn
       |   FROM sub s JOIN cb c ON c.j = s.j) t WHERE rn = 1),
       |lut AS (SELECT c.j, c.k, ${ip("q.sv", "c.cw")} AS ip
       |        FROM (SELECT j, sv FROM sub WHERE vec_id = 0) q JOIN cb c ON c.j = q.j)
       |SELECT vec_id, round(radc, 6) AS adc FROM
       |  (SELECT cd.vec_id, list_sum(list(l.ip ORDER BY cd.j)) AS radc
       |   FROM codes cd JOIN lut l ON l.j = cd.j AND l.k = cd.code
       |   GROUP BY cd.vec_id) t
       |ORDER BY adc DESC, vec_id LIMIT $limit""".stripMargin
  }

  /** DuckDB rendering of the composed IVF-PQ path with RESIDUAL encoding
    * (r12 verdict item 2): the `sim_ivf_topk` assignment/probe CTEs pick
    * the candidate lists; each vector's residual `v − ce(cid)` is sliced
    * and coded against the residual codebook (codewords = residuals of
    * vectors 16..31 — the centroid prefix's residuals are identically zero,
    * so the stand-in starts past it); ranking adds the exact per-list
    * `dot(q, ce)` coarse term to the ADC residual sum.
    */
  private def ivfPqSql: String = ivfPqSqlWith("")

  /** The composed IVF-PQ oracle at a resolved list count — the staged and
    * unstaged arms both rank at [[Similarity.centroidsFor]]'s resolution
    * (r16: the composed arms no longer pin 16 lists).
    */
  private def ivfPqSqlAt(kc: Int, limit: Int = 10, where: String = ""): String =
    ivfPqSqlWith("", limit, kc, where)

  /** The composed IVF-PQ oracle with the residual codebook derivation as a
    * parameter: `""` renders the deterministic stand-in (`cb` = residual
    * slices of vectors 16..31), [[pqTrainedChain]] appends the per-subspace
    * Lloyd iteration CTEs ending in a trained `cb` — one probe/ranking
    * text for both arms, so swap-in-a-trained-codebook cannot drift the
    * serving arithmetic.
    */
  private def ivfPqSqlWith(cbChain: String, limit: Int = 10,
                           cN: Int = Similarity.ivfCentroids,
                           where: String = ""): String = {
    val (m, kk, sd) = (Similarity.pqM, Similarity.pqK, Similarity.pqSubDim)
    val dims = Similarity.dims
    def sliceSql(v: String) = s"$v[j*$sd+1 : j*$sd+$sd]"
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${sd + 1}), i -> (CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))))"
    def ip(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${sd + 1}), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))"
    val standIn = s"""cb0 AS (SELECT j, vec_id AS k, ${sliceSql("rv")} AS cw
       |       FROM rv, range(0, $m) t(j) WHERE vec_id >= $cN AND vec_id < ${cN + kk})""".stripMargin
    val cbFinal = if (cbChain.isEmpty) "cb0" else "cbt"
    // coarse assignment: exact at the floor, ROUTED above it — matching
    // [[Similarity.residuals]]'s regime split, so the staged codes and the
    // oracle's re-derivation agree at every corpus size
    val asnBlock =
      if (cN <= Similarity.ivfCentroids)
        s"""asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
           |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
           |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1)""".stripMargin
      else twoLevelFrom("cent", Similarity.groupsFor(cN), "u", "a")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $cN),
       |$asnBlock,
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qprobe AS (SELECT cid FROM
       |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
       |   FROM cent c, q) t WHERE rn <= 2),
       |rv AS MATERIALIZED (SELECT e.vec_id, a.cid,
       |    list_transform(range(1, ${dims + 1}), i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) AS rv
       |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id JOIN cent c ON c.cid = a.cid),
       |$standIn,
       |${if (cbChain.isEmpty) "" else cbChain + ","}
       |cb AS (SELECT j, k, cw FROM $cbFinal),
       |sub AS (SELECT r.vec_id, r.cid, j, ${sliceSql("r.rv")} AS sv
       |        FROM rv r JOIN qprobe p ON p.cid = r.cid, range(0, $m) t(j)),
       |codes AS (SELECT vec_id, cid, j, k AS code FROM
       |  (SELECT s.vec_id, s.cid, s.j, c.k,
       |     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
       |       ORDER BY ${l2("s.sv", "c.cw")}, c.k) AS rn
       |   FROM sub s JOIN cb c ON c.j = s.j) t WHERE rn = 1),
       |qsub AS (SELECT j, ${sliceSql("embedding")} AS sv FROM embeddings, range(0, $m) t(j)
       |         WHERE vec_id = 0),
       |lut AS (SELECT c.j, c.k, ${ip("qs.sv", "c.cw")} AS ip
       |        FROM qsub qs JOIN cb c ON c.j = qs.j),
       |qce AS (SELECT c.cid, ${SqlGen.dotSql("q.qe", "c.ce", dims)} AS qce FROM cent c, q)
       |SELECT vec_id, round(radc + qce, 6) AS adc FROM
       |  (SELECT cd.vec_id, cd.cid, list_sum(list(l.ip ORDER BY cd.j)) AS radc
       |   FROM codes cd JOIN lut l ON l.j = cd.j AND l.k = cd.code
       |   GROUP BY cd.vec_id, cd.cid) t JOIN qce USING (cid)
       |${if (where.isEmpty) "" else s"WHERE $where\n"}ORDER BY adc DESC, vec_id LIMIT $limit""".stripMargin
  }

  /** Lloyd iterations for the trained residual codebook (matches the
    * trained-IVF convention: enough to move the stand-in, bounded so the
    * unrolled oracle chain stays renderable).
    */
  val pqTrainedIters = 2

  /** The per-subspace Lloyd chain (sample → slices → iterate assign/mean →
    * `cbt`), appended into [[ivfPqSqlWith]] — the [[Similarity
    * .trainPqCodebookResidual]] arithmetic unrolled as CTE generations,
    * exactly how `ivfTrainedSql` unrolls `trainCentroids`.
    */
  private def pqTrainedChain: String = {
    val (m, sd) = (Similarity.pqM, Similarity.pqSubDim)
    def sliceSql(v: String) = s"$v[j*$sd+1 : j*$sd+$sd]"
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${sd + 1}), i -> (CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))*(CAST($a[i] AS DOUBLE)-CAST($b[i] AS DOUBLE))))"
    val iters = (1 to pqTrainedIters).map { i =>
      s"""pasn$i AS (SELECT vec_id, j, k FROM
         | (SELECT s.vec_id, s.j, c.k, ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
         |    ORDER BY ${l2("s.sv", "c.cw")}, c.k) AS rn
         |  FROM psl s JOIN pcb${i - 1} c ON c.j = s.j) t WHERE rn = 1),
         |pmean$i AS (SELECT a.j, a.k, t.pos,
         |  list_sum(list_sort(list(CAST(s.sv[t.pos] AS DOUBLE))))/count(*) AS m
         |  FROM psl s JOIN pasn$i a ON a.vec_id = s.vec_id AND a.j = s.j,
         |       (SELECT range AS pos FROM range(1, ${sd + 1})) t
         |  GROUP BY a.j, a.k, t.pos),
         |pnew$i AS (SELECT j, k, list(m ORDER BY pos) AS cw FROM pmean$i GROUP BY j, k),
         |pcb$i AS (SELECT p.j, p.k, coalesce(n.cw, p.cw) AS cw
         |          FROM pcb${i - 1} p LEFT JOIN pnew$i n ON n.j = p.j AND n.k = p.k)""".stripMargin
    }.mkString(",\n")
    s"""psample AS (SELECT vec_id FROM embeddings
       |  WHERE vec_id % (SELECT greatest(1, count(*)//4096) FROM embeddings) = 0),
       |psl AS MATERIALIZED (SELECT r.vec_id, j, ${sliceSql("r.rv")} AS sv
       |       FROM rv r JOIN psample p ON p.vec_id = r.vec_id, range(0, $m) t(j)),
       |pcb0 AS (SELECT j, k, cw FROM cb0),
       |$iters,
       |cbt AS (SELECT j, k, cw FROM pcb$pqTrainedIters)""".stripMargin
  }

  private def ivfPqTrainedSqlAt(kc: Int): String =
    ivfPqSqlWith(pqTrainedChain, 10, kc)

  /** The trained residual codebook, once per (session, dir) — both trained
    * rows derive from it.
    */
  private def trainedPqCb(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.scalarOrBuild(s, s"pqcb:$dir") {
      import org.apache.spark.sql.functions.col
      val kc = adaptiveIvfK(s, dir)
      val emb = Tables.embeddings(s, dir)
      val cent = emb.filter(col("vec_id") < kc)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      Similarity.trainPqCodebookResidual(emb, cent, iters = pqTrainedIters,
        nOpt = Some(embCount(s, dir)), centroidsN = kc)
    }

  /** `sim_ivfpq_trained` — the composed IVF-PQ arm ranked from a TRAINED
    * residual codebook ([[Similarity.trainPqCodebookResidual]]): C17
    * trained the IVF stand-in centroids; this closes the same
    * train-don't-guess gap one level down, where the C177 readings said
    * the codebook is the recall bottleneck (stand-in residual ADC: 0.5 at
    * sf0.01). Same probe/ranking plan as `sim_ivfpq_topk` — only the
    * codeword artifact changes, which is the swap-in contract C35
    * promised.
    */
  def ivfPqTrainedTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(s, dir), queryId = 0L, k = recallK,
      nOpt = Some(embCount(s, dir)), cbOpt = Some(trainedPqCb(s, dir)))

  /** `sim_recall_ivfpq_trained` — the trained arm's measured reading, the
    * number that says whether training the codebook bought recall over the
    * stand-in (C53 discipline: a trained artifact without a reading is
    * still a guess).
    */
  def recallIvfPqTrained(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, ivfPqTrainedTopK(s, dir))

  /** A `def` OF THE TARGET DIR, not a `val`: the two LSH oracles render at
    * the ADAPTIVE code width their queries resolved FOR THAT DIR
    * ([[AdaptiveWidth.forOracle]]), and `Verify` dumps `oracle_sql.json`
    * AFTER running the queries — so the dumped SQL always carries the width
    * the parquet results were computed with, at any scale factor, even when
    * one JVM verifies several dirs of different scale.
    */
  /** The nprobe-curve oracle: the sim_recall_ivf chain with one probed arm
    * per [[nprobeCurve]] setting, sharing the assignment and exact-truth
    * CTEs — the SQL is generated from the SAME Seq the Spark side walks.
    */
  private def nprobeCurveSql: String = {
    val arms = nprobeCurve.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, $recallK AS k, count(*) AS hits,
         |  round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN (SELECT vec_id FROM
         |    (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
         |     FROM embeddings e JOIN a ON a.vec_id = e.vec_id
         |     JOIN (SELECT cid FROM
         |       (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
         |        FROM cent c, q) t WHERE rn <= $np) p ON p.cid = a.cid, q) t
         |  WHERE rn <= $recallK) ap USING (vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < ${Similarity.ivfCentroids}),
       |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
       |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
       |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT vec_id FROM
       |  (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
       |   FROM embeddings e, q) t WHERE rn <= $recallK)
       |SELECT * FROM (
       |$arms
       |) ORDER BY nprobe""".stripMargin
  }

  /** Wrap an arm oracle (any statement ending `SELECT vec_id, … LIMIT k`)
    * in the shared recall harness: exact truth ∩ arm, one row.
    */
  private def recallWrapSql(armSql: String): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT vec_id FROM
       |  (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
       |   FROM embeddings e, q) t WHERE rn <= $recallK)
       |SELECT $recallK AS k, count(*) AS hits,
       |  round(count(*)/$recallK.0, 6) AS recall
       |FROM ex JOIN ($armSql) ap USING (vec_id)""".stripMargin

  /** The re-ranked PQ arm's oracle: ADC pool from the parameterized pqSql,
    * exact-cosine re-rank with the engine's (round-6 DESC, vec_id) order.
    */
  /** The rotation gate's oracle at a list count: both generations' corpus
    * assignments re-derived (v1 = the prefix stand-in codebook, v2 = the
    * unrolled training chain — each exact at the floor, ROUTED above it,
    * matching [[stageIvfAt]]), per-gate-query probes and exact truths, and
    * the swap rule (`mean v2 ≥ mean v1`) applied in SQL — so the Spark
    * side's decision to rotate is itself checked, not just the per-query
    * numbers it read.
    */
  private def indexRotateSqlAt(kc: Int): String = {
    val nq = rotateGateQueries
    val routed = kc > Similarity.ivfCentroids
    val g = Similarity.groupsFor(kc)
    val v1Asn =
      if (!routed)
        s"""a1 AS (SELECT vec_id, cid FROM
           |  (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |     ORDER BY ${SqlGen.cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
           |   FROM embeddings e, cent0 c) t WHERE rn = 1)""".stripMargin
      else twoLevelFrom("cent0", g, "u", "a1")
    val v2Asn =
      if (!routed)
        s"""a2v AS (SELECT vec_id, cid FROM
           |  (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |     ORDER BY ${SqlGen.cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
           |   FROM embeddings e, cent$trainedIters c) t WHERE rn = 1)""".stripMargin
      else twoLevelFrom(s"cent$trainedIters", g, "w", "a2v")
    def armCtes(cent: String, asn: String, qp: String, arm: String) =
      s"""$qp AS (SELECT query_id, cid FROM
         |  (SELECT q.query_id, c.cid, ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
         |   FROM $cent c, q) t WHERE rn <= 2),
         |$arm AS (SELECT query_id, vec_id FROM
         |  (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id
         |     ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
         |   FROM q JOIN $qp p ON p.query_id = q.query_id
         |        JOIN $asn a ON a.cid = p.cid
         |        JOIN embeddings e ON e.vec_id = a.vec_id) t WHERE rn <= $recallK)""".stripMargin
    s"""WITH ${trainedChainCtes(kc)},
       |$v1Asn,
       |$v2Asn,
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $nq),
       |${armCtes("cent0", "a1", "qp1", "arm1")},
       |${armCtes(s"cent$trainedIters", "a2v", "qp2", "arm2")},
       |ex AS (SELECT query_id, vec_id FROM
       |  (SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id
       |     ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
       |   FROM embeddings e, q) t WHERE rn <= $recallK),
       |h1 AS (SELECT ex.query_id, count(a.vec_id) AS hits FROM ex
       |       LEFT JOIN arm1 a ON a.query_id = ex.query_id AND a.vec_id = ex.vec_id
       |       GROUP BY ex.query_id),
       |h2 AS (SELECT ex.query_id, count(a.vec_id) AS hits FROM ex
       |       LEFT JOIN arm2 a ON a.query_id = ex.query_id AND a.vec_id = ex.vec_id
       |       GROUP BY ex.query_id),
       |m AS (SELECT (SELECT sum(hits) FROM h1) AS s1, (SELECT sum(hits) FROM h2) AS s2)
       |SELECT h1.query_id AS query_id, $recallK AS k,
       |  CAST(h1.hits AS BIGINT) AS v1_hits, round(h1.hits/$recallK.0, 6) AS v1_recall,
       |  CAST(h2.hits AS BIGINT) AS v2_hits, round(h2.hits/$recallK.0, 6) AS v2_recall,
       |  round(CAST(m.s1 AS DOUBLE)/${nq * recallK}, 6) AS v1_mean,
       |  round(CAST(m.s2 AS DOUBLE)/${nq * recallK}, 6) AS v2_mean,
       |  m.s2 >= m.s1 AS swapped
       |FROM h1 JOIN h2 USING (query_id), m ORDER BY query_id""".stripMargin
  }

  /** The composed staged re-rank's oracle: the full IVF-PQ chain at the
    * [[stagedRerankPool]] pool, wrapped in the same exact-cosine re-rank
    * CTE as [[pqRerankSql]] — one probe/ranking text with the staged ADC
    * row, so composing the re-rank cannot drift the staged arithmetic.
    */
  private def ivfPqStagedRerankSql(kc: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id FROM (${ivfPqSqlWith("", stagedRerankPool, kc)}) t)
       |SELECT e.vec_id, round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
       |FROM embeddings e JOIN cand USING (vec_id), q
       |ORDER BY cos_sim DESC, e.vec_id LIMIT $recallK""".stripMargin

  private def pqRerankSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id FROM (${pqSql(rerankPool)}) t)
       |SELECT e.vec_id, round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
       |FROM embeddings e JOIN cand USING (vec_id), q
       |ORDER BY cos_sim DESC, e.vec_id LIMIT $recallK""".stripMargin

  /** The pool-curve oracle: one re-ranked arm per [[rerankCurve]] pool,
    * each wrapped in the recall harness, UNION ALL'd — generated from the
    * SAME Seq the Spark side walks.
    */
  private def rerankCurveSql: String = {
    val arms = rerankCurve.map { pool =>
      s"""SELECT CAST($pool AS BIGINT) AS pool, $recallK AS k, count(*) AS hits,
         |  round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN (
         |  SELECT e.vec_id FROM embeddings e
         |  JOIN (SELECT vec_id FROM (${pqSql(pool)}) t0) cand USING (vec_id), q
         |  ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id
         |  LIMIT $recallK) ap USING (vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT vec_id FROM
       |  (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
       |   FROM embeddings e, q) t WHERE rn <= $recallK)
       |SELECT * FROM (
       |$arms
       |) ORDER BY pool""".stripMargin
  }

  /** The PCA oracle mirrors [[graft.operators.Spectral]] stage for stage:
    * the same exact-decimal Gram cells (round-to-9 products, DECIMAL(38,9)
    * sums, unscaled ×1e9 integers), the same max-normalized truncating
    * power iteration (DuckDB `//` and BigInt `/` both truncate toward zero,
    * so negative components divide identically), and the same scale-1e6
    * Rayleigh/explained-ratio divisions — bit-exact end to end.
    */
  /** Shared CTE body (Gram cells + the iteration chain up to the trained
    * eigenvector) — `sim_pca` reads the component off it, `sim_pca_project`
    * applies it, exactly as the engine shares one cached model.
    */
  /** One power-iteration CTE chain over Gram table `gT`, vectors named
    * `$vP{0..rounds}` — shared by the top-component chain and the deflated
    * second chain.
    */
  private def pcaIterChain(gT: String, vP: String, wP: String): String = {
    val S = graft.operators.Spectral.vecScale
    // MATERIALIZED is load-bearing (the kcore-oracle lesson): each round
    // references the previous vector CTE and its own w CTE more than once,
    // and the second-component chain joins the shared tables three ways —
    // default inlining re-expands the Gram derivation per reference
    // (observed: DuckDB exhausting file handles re-opening the parquet)
    (1 to pcaRounds).map { k =>
      s"""$wP$k AS MATERIALIZED (SELECT g.i, sum(g.gu * v.v) AS w FROM $gT g JOIN $vP${k - 1} v ON v.i = g.j GROUP BY g.i),
         |$vP$k AS MATERIALIZED (SELECT i, (w * $S) // (SELECT max(abs(w)) FROM $wP$k) AS v FROM $wP$k)""".stripMargin
    }.mkString(",\n")
  }

  private[queries] def pcaCtes: String = {
    val d = Similarity.dims
    val S = graft.operators.Spectral.vecScale
    val p = graft.operators.Spectral.prodScale
    val iters = pcaIterChain("g", "v", "w")
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(t.i AS INTEGER) AS i,
       |  CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${d + 1}) t(i)),
       |g AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
       |  CAST(sum(CAST(round(a.x * b.x, $p) AS DECIMAL(38,$p))) * $S AS HUGEINT) AS gu
       |  FROM e a JOIN e b USING (vec_id) GROUP BY a.i, b.i),
       |v0 AS (SELECT CAST(t.i AS INTEGER) AS i, CAST($S AS HUGEINT) AS v FROM range(1, ${d + 1}) t(i)),
       |$iters""".stripMargin
  }

  private def pcaSql: String =
    s"""WITH $pcaCtes,
       |wf AS (SELECT g.i, sum(g.gu * v.v) AS w FROM g JOIN v$pcaRounds v ON v.i = g.j GROUP BY g.i),
       |ray AS (SELECT sum(v.v * w.w) AS num, (SELECT sum(v*v) FROM v$pcaRounds) AS den,
       |  (SELECT sum(gu) FROM g WHERE i = j) AS tr
       |  FROM v$pcaRounds v JOIN wf w ON w.i = v.i)
       |SELECT v.i AS dim, CAST(v.v AS BIGINT) AS v,
       |  CAST(v.v AS DOUBLE) / 1.0e9 AS loading,
       |  CAST(num // (den * 1000) AS DOUBLE) / 1.0e6 AS eigenvalue,
       |  CAST(num // (den * (tr // 1000000)) AS DOUBLE) / 1.0e6 AS explained_ratio
       |FROM v$pcaRounds v, ray ORDER BY dim""".stripMargin

  /** pca2 oracle: the shared top-component chain, the SAME two-division
    * deflation order as [[graft.operators.Spectral.deflate]]
    * (`λ9 = num // den`, then `(λ9·v_i·v_j) // den` — the single-division
    * form overflows HUGEINT), then a second iteration chain over the
    * deflated cells and the same scale-1e6 ratios; orthogonality as the
    * scale-1e9 truncated dot.
    */
  private def pca2Sql: String = {
    val d = Similarity.dims
    val S = graft.operators.Spectral.vecScale
    s"""WITH $pcaCtes,
       |wf AS (SELECT g.i, sum(g.gu * v.v) AS w FROM g JOIN v$pcaRounds v ON v.i = g.j GROUP BY g.i),
       |ray AS (SELECT sum(v.v * w.w) AS num, (SELECT sum(v*v) FROM v$pcaRounds) AS den
       |  FROM v$pcaRounds v JOIN wf w ON w.i = v.i),
       |gd AS MATERIALIZED (SELECT g.i, g.j, g.gu - ((num // den) * vi.v * vj.v) // den AS gu
       |  FROM g JOIN v$pcaRounds vi ON vi.i = g.i JOIN v$pcaRounds vj ON vj.i = g.j, ray),
       |b0 AS (SELECT CAST(t.i AS INTEGER) AS i, CAST($S AS HUGEINT) AS v FROM range(1, ${d + 1}) t(i)),
       |${pcaIterChain("gd", "b", "x")},
       |wfb AS (SELECT g.i, sum(g.gu * v.v) AS w FROM gd g JOIN b$pcaRounds v ON v.i = g.j GROUP BY g.i),
       |rayb AS (SELECT sum(v.v * w.w) AS num, (SELECT sum(v*v) FROM b$pcaRounds) AS den,
       |  (SELECT sum(gu) FROM gd WHERE i = j) AS tr
       |  FROM b$pcaRounds v JOIN wfb w ON w.i = v.i),
       |orth AS (SELECT sum(a.v * b.v) // $S AS o
       |  FROM v$pcaRounds a JOIN b$pcaRounds b ON b.i = a.i)
       |SELECT v.i AS dim, CAST(v.v AS BIGINT) AS v,
       |  CAST(v.v AS DOUBLE) / 1.0e9 AS loading,
       |  CAST(num // (den * 1000) AS DOUBLE) / 1.0e6 AS eigenvalue2,
       |  CAST(num // (den * (tr // 1000000)) AS DOUBLE) / 1.0e6 AS explained_residual,
       |  CAST(o AS BIGINT) AS ortho9
       |FROM b$pcaRounds v, rayb, orth ORDER BY dim""".stripMargin
  }

  private def pcaProjectSql: String = {
    val d = Similarity.dims
    s"""WITH $pcaCtes,
       |vv AS (SELECT list(CAST(v AS DOUBLE)/1.0e9 ORDER BY i) AS pv FROM v$pcaRounds),
       |pr AS (SELECT label, round(list_sum(list_transform(range(1, ${d + 1}),
       |         i -> CAST(embedding[i] AS DOUBLE) * pv[i])), 6) AS p
       |       FROM embeddings, vv)
       |SELECT label, count(*) AS n, min(p) AS lo, max(p) AS hi,
       |  round(CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS mean_proj
       |FROM pr GROUP BY label ORDER BY label""".stripMargin
  }

  /** Silhouette oracle: the same centroid CTEs as `sim_centroid_assign`,
    * the same own/other CASE-max aggregation, the same guarded s formula —
    * every arithmetic step mirrored.
    */
  private def silhouetteSql: String = {
    val d = Similarity.dims
    s"""WITH px AS (SELECT label, pos, CAST(CAST(embedding[pos+1] AS DOUBLE) AS DECIMAL(27,12)) AS x
       |            FROM embeddings, range(0, $d) t(pos)),
       |pm AS (SELECT label, pos, CAST(sum(x) AS DOUBLE)/count(*) AS m FROM px GROUP BY label, pos),
       |cent AS (SELECT label AS clab, list(m ORDER BY pos) AS c FROM pm GROUP BY label),
       |sc AS (SELECT vec_id, e.label, cent.clab, ${SqlGen.cosSql("e.embedding", "cent.c", d)} AS cv
       |       FROM embeddings e, cent),
       |ag AS (SELECT vec_id, max(label) AS label,
       |        max(CASE WHEN clab = label THEN cv END) AS own,
       |        max(CASE WHEN clab <> label THEN cv END) AS oth
       |       FROM sc GROUP BY vec_id),
       |sil AS (SELECT label, round(CASE WHEN greatest(1.0-own, 1.0-oth) = 0.0 THEN 0.0
       |          ELSE (own-oth)/greatest(1.0-own, 1.0-oth) END, 6) AS s FROM ag),
       |a AS (SELECT label, count(*) AS n, sum(CAST(s AS DECIMAL(18,6))) AS sdec
       |      FROM sil GROUP BY label)
       |SELECT label, n, round(CAST(sdec AS DOUBLE)/n, 6) AS mean_sil
       |FROM a ORDER BY label""".stripMargin
  }

  /** Whitening CTE chain (no WITH keyword): the `sim_dim_profile` moment
    * arithmetic rounded to the same 6 dp the engine's literal profile
    * carries, then each vector standardized per dimension — `wh(vec_id,
    * label, wv ARRAY<DOUBLE>)`. Shared by the whitened recall and
    * silhouette oracles.
    */
  private def whitenCtes: String = {
    val d = Similarity.dims
    s"""px AS (SELECT CAST(pos AS INTEGER) AS pos, CAST(embedding[pos+1] AS DOUBLE) AS x
       |       FROM embeddings, range(0, $d) t(pos)),
       |prof AS (SELECT pos, round(sx/n, 6) AS mean,
       |          round(sqrt((sxx - sx*sx/n)/(n-1)), 6) AS sd FROM
       |  (SELECT pos, count(*) AS n,
       |     CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
       |     CAST(sum(CAST(x*x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
       |   FROM px GROUP BY pos) a),
       |wh AS (SELECT e.vec_id, e.label,
       |        list(CASE WHEN p.sd = 0.0 THEN 0.0
       |             ELSE (CAST(e.embedding[p.pos+1] AS DOUBLE) - p.mean)/p.sd END
       |             ORDER BY p.pos) AS wv
       |       FROM embeddings e, prof p GROUP BY e.vec_id, e.label)""".stripMargin
  }

  /** `sim_recall_white`'s DuckDB rendering: whiten, stage-assign to the
    * whitened centroid prefix, probe the 2 nearest whitened lists, rank by
    * whitened cosine — scored against the RAW exact truth (the same `ex`
    * arm every IVF recall row uses).
    */
  private def recallWhiteSql: String =
    s"""WITH $whitenCtes,
       |cent AS (SELECT vec_id AS cid, wv AS ce FROM wh WHERE vec_id < ${Similarity.ivfCentroids}),
       |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
       |  (SELECT m.vec_id, c.cid, ${SqlGen.cosSql("m.wv", "c.ce")} AS ccos FROM wh m, cent c) t),
       |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
       |qw AS (SELECT wv AS qe FROM wh WHERE vec_id = 0),
       |qprobe AS (SELECT cid FROM
       |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "qw.qe")} DESC, c.cid) AS rn
       |   FROM cent c, qw) t WHERE rn <= 2),
       |ap AS (SELECT vec_id FROM
       |  (SELECT m.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("m.wv", "qw.qe")}, 6) DESC, m.vec_id) AS rn
       |   FROM wh m JOIN a ON a.vec_id = m.vec_id JOIN qprobe p ON p.cid = a.cid, qw) t
       |  WHERE rn <= $recallK),
       |q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |ex AS (SELECT vec_id FROM
       |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
       |   FROM embeddings, q0) t WHERE rn <= $recallK)
       |SELECT $recallK AS k, count(*) AS hits, round(count(*)/$recallK.0, 6) AS recall
       |FROM ex JOIN ap USING (vec_id)""".stripMargin

  /** `sim_silhouette_white`: [[silhouetteSql]]'s arithmetic over the
    * whitened corpus (centroid means as exact decimal sums of the whitened
    * doubles, like the Spark side's meanPoolCentroids on `wh`).
    */
  private def silhouetteWhiteSql: String = {
    val d = Similarity.dims
    s"""WITH $whitenCtes,
       |wx AS (SELECT label, pos, CAST(CAST(wv[pos+1] AS DOUBLE) AS DECIMAL(27,12)) AS x
       |       FROM wh, range(0, $d) t(pos)),
       |pm AS (SELECT label, pos, CAST(sum(x) AS DOUBLE)/count(*) AS m FROM wx GROUP BY label, pos),
       |cent AS (SELECT label AS clab, list(m ORDER BY pos) AS c FROM pm GROUP BY label),
       |sc AS (SELECT vec_id, e.label, cent.clab, ${SqlGen.cosSql("e.wv", "cent.c", d)} AS cv
       |       FROM wh e, cent),
       |ag AS (SELECT vec_id, max(label) AS label,
       |        max(CASE WHEN clab = label THEN cv END) AS own,
       |        max(CASE WHEN clab <> label THEN cv END) AS oth
       |       FROM sc GROUP BY vec_id),
       |sil AS (SELECT label, round(CASE WHEN greatest(1.0-own, 1.0-oth) = 0.0 THEN 0.0
       |          ELSE (own-oth)/greatest(1.0-own, 1.0-oth) END, 6) AS s FROM ag),
       |a AS (SELECT label, count(*) AS n, sum(CAST(s AS DECIMAL(18,6))) AS sdec
       |      FROM sil GROUP BY label)
       |SELECT label, n, round(CAST(sdec AS DOUBLE)/n, 6) AS mean_sil
       |FROM a ORDER BY label""".stripMargin
  }

  def oracle(dir: String): Map[String, String] = {
    // ONE per-dir list-count resolution for every composed arm's oracle —
    // the floor at driver scale, the corpus's √(n/256) above it (r16)
    val kc = adaptiveIvfK.forOracle(dir)
    Map(
    "sim_recall_white" -> recallWhiteSql,
    "sim_silhouette_white" -> silhouetteWhiteSql,
    "sim_pca" -> pcaSql,
    "sim_pca2" -> pca2Sql,
    "sim_pca_project" -> pcaProjectSql,
    "sim_silhouette" -> silhouetteSql,
    "sim_nprobe_curve" -> nprobeCurveSql,
    "sim_recall_pq" -> recallWrapSql(pqSql()),
    "sim_recall_ivfpq" -> recallWrapSql(ivfPqSqlAt(kc)),
    "sim_ivfpq_trained" -> ivfPqTrainedSqlAt(kc),
    "sim_recall_ivfpq_trained" -> recallWrapSql(ivfPqTrainedSqlAt(kc)),
    "sim_pq_rerank" -> pqRerankSql,
    "sim_recall_pq_rerank" -> recallWrapSql(pqRerankSql),
    "sim_rerank_curve" -> rerankCurveSql,
    "sim_maxsim" ->
      s"""WITH v AS (SELECT vec_id // $maxSimGroup AS doc, vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM v WHERE doc = 0),
         |d AS (SELECT v.doc, q.qid, max(${SqlGen.dotSql("v.embedding", "q.qe")}) AS mx
         |      FROM v, q WHERE v.doc <> 0 GROUP BY v.doc, q.qid),
         |s AS (SELECT doc, sum(CAST(round(mx, 6) AS DECIMAL(18,6))) AS sdec
         |      FROM d GROUP BY doc)
         |SELECT doc, round(CAST(sdec AS DOUBLE), 6) AS maxsim
         |FROM s ORDER BY maxsim DESC, doc LIMIT 10""".stripMargin,
    "sim_recall" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding")} AS lsh_code FROM embeddings),
         |q AS (SELECT embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM embeddings, q) t WHERE rn <= $recallK),
         |ap AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM coded, q WHERE bit_count(xor(lsh_code, qcode)) <= $lshTopKHamming) t
         |  WHERE rn <= $recallK)
         |SELECT $recallK AS k, count(*) AS hits, round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN ap USING (vec_id)""".stripMargin,
    "sim_lsh_multi" -> {
      val codes = (0 until multiTables).map(t =>
        s"${Similarity.lshCodeSql("embedding", Similarity.lshPlanes, t * Similarity.lshPlanes)} AS c$t")
        .mkString(", ")
      val qcodes = (0 until multiTables).map(t => s"c$t AS q$t").mkString(", ")
      val anyBall = (0 until multiTables)
        .map(t => s"bit_count(xor(c$t, q$t)) <= $multiHamming").mkString(" OR ")
      s"""WITH coded AS (SELECT vec_id, embedding, $codes FROM embeddings),
         |q AS (SELECT embedding AS qe, $qcodes FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(${SqlGen.cosSql("embedding", "qe")}, 6) AS cos_sim
         |FROM coded, q
         |WHERE $anyBall
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    },
    "sim_recall_multi" -> {
      val codes = (0 until multiTables).map(t =>
        s"${Similarity.lshCodeSql("embedding", Similarity.lshPlanes, t * Similarity.lshPlanes)} AS c$t")
        .mkString(", ")
      val qcodes = (0 until multiTables).map(t => s"c$t AS q$t").mkString(", ")
      val anyBall = (0 until multiTables)
        .map(t => s"bit_count(xor(c$t, q$t)) <= $multiHamming").mkString(" OR ")
      s"""WITH coded AS (SELECT vec_id, embedding, $codes FROM embeddings),
         |q AS (SELECT embedding AS qe, $qcodes FROM coded WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM embeddings, q) t WHERE rn <= $recallK),
         |ap AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM coded, q WHERE $anyBall) t
         |  WHERE rn <= $recallK)
         |SELECT $recallK AS k, count(*) AS hits, round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN ap USING (vec_id)""".stripMargin
    },
    "sim_recall_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < ${Similarity.ivfCentroids}),
         |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
         |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
         |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qprobe AS (SELECT cid FROM
         |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
         |   FROM cent c, q) t WHERE rn <= 2),
         |ex AS (SELECT vec_id FROM
         |  (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
         |   FROM embeddings e, q) t WHERE rn <= $recallK),
         |ap AS (SELECT vec_id FROM
         |  (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
         |   FROM embeddings e JOIN a ON a.vec_id = e.vec_id JOIN qprobe p ON p.cid = a.cid, q) t
         |  WHERE rn <= $recallK)
         |SELECT $recallK AS k, count(*) AS hits, round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN ap USING (vec_id)""".stripMargin,
    "sim_pq_topk" -> pqSql(),
    // the composed arms rank at the dir's resolved list count (r16):
    // the unstaged arm auto-scales via centroidsFor, the staged arm stores
    // the same layout — one probe text for both, per dir
    "sim_ivfpq_topk" -> ivfPqSqlAt(kc),
    "sim_ivfpq_staged" -> ivfPqSqlAt(kc),
    "sim_ivfpq_staged_rerank" -> ivfPqStagedRerankSql(kc),
    "sim_recall_ivfpq_rerank" -> recallWrapSql(ivfPqStagedRerankSql(kc)),
    "sim_centroid_assign" -> {
      val d = Similarity.dims
      s"""WITH px AS (SELECT label, pos, CAST(CAST(embedding[pos+1] AS DOUBLE) AS DECIMAL(27,12)) AS x
         |            FROM embeddings, range(0, $d) t(pos)),
         |pm AS (SELECT label, pos, CAST(sum(x) AS DOUBLE)/count(*) AS m FROM px GROUP BY label, pos),
         |cent AS (SELECT label AS pred, list(m ORDER BY pos) AS c FROM pm GROUP BY label),
         |asn AS (SELECT vec_id, label, pred,
         |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ${SqlGen.cosSql("e.embedding", "cent.c", d)} DESC, pred) AS rn
         |  FROM embeddings e, cent)
         |SELECT label, pred, count(*) AS n FROM asn WHERE rn = 1
         |GROUP BY label, pred ORDER BY label, pred""".stripMargin
    },
    "sim_dim_profile" -> {
      val d = Similarity.dims
      s"""WITH px AS (SELECT CAST(pos AS INTEGER) AS pos, CAST(embedding[pos+1] AS DOUBLE) AS x
         |            FROM embeddings, range(0, $d) t(pos)),
         |a AS (SELECT pos, count(*) AS n,
         |       CAST(sum(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
         |       CAST(sum(CAST(x*x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
         |      FROM px GROUP BY pos)
         |SELECT pos, round(sx/n, 6) AS mean, round(sqrt((sxx - sx*sx/n)/(n-1)), 6) AS sd
         |FROM a ORDER BY pos""".stripMargin
    },
    "sim_pool" -> {
      val d = Similarity.dims
      s"""WITH px AS (SELECT label, pos, CAST(CAST(embedding[pos+1] AS DOUBLE) AS DECIMAL(27,12)) AS x
         |            FROM embeddings, range(0, $d) t(pos)),
         |pm AS (SELECT label, pos, CAST(sum(x) AS DOUBLE)/count(*) AS m FROM px GROUP BY label, pos),
         |cent AS (SELECT label, list(m ORDER BY pos) AS c FROM pm GROUP BY label)
         |SELECT a.label AS l1, b.label AS l2, round(${SqlGen.cosSql("a.c", "b.c", d)}, 6) AS cos_sim
         |FROM cent a JOIN cent b ON a.label < b.label
         |ORDER BY l1, l2""".stripMargin
    },
    "sim_ivf_trained" -> ivfTrainedSql(),
    // staged must not change the trained answer — one oracle text for both
    "sim_ivf_trained_staged" -> ivfTrainedSql(kc),
    "sim_recall_ivf_trained" -> recallWrapSql(ivfTrainedSql(kc)),
    "sim_ivf_staged" -> ivfProbeSql,
    // the adaptive arm renders the SAME probe text at its per-dir resolved
    // list count (the floor and the resolution coincide at driver scale;
    // they part at the decade points — each dir renders its own)
    "sim_ivf_staged_adaptive" -> ivfProbeSqlAt(adaptiveIvfK.forOracle(dir)),
    "sim_recall_ivf_adaptive" ->
      recallWrapSql(ivfProbeSqlAt(adaptiveIvfK.forOracle(dir))),
    // the routed-assignment family renders at the same per-dir kc
    "sim_ivf_staged_2level" -> ivf2LevelProbeSql(adaptiveIvfK.forOracle(dir)),
    "sim_recall_ivf_2level" ->
      recallWrapSql(ivf2LevelProbeSql(adaptiveIvfK.forOracle(dir))),
    "sim_assign_2level" -> assign2LevelSql(adaptiveIvfK.forOracle(dir)),
    "sim_batch_ivf_staged" -> batchIvfSql(kc),
    "sim_recall_batch_ivf" -> recallBatchIvfSql(kc),
    // the compaction lifecycle ends in the SAME full-corpus staged probe —
    // stage/append×3/compact must be answer-invariant, which is the point
    "sim_index_compact" -> ivfProbeSql,
    "sim_index_rotate" -> indexRotateSqlAt(kc),
    // the deletion lifecycle ends in the plain staged probe over the corpus
    // minus the tombstoned residues — delete → shadow → apply → drop
    // tombstones must land exactly there, which is the point
    // at the floor the lifecycle stages/tombstones exact; above it both
    // route (stageIvfAt + regime-consistent tombstones) and the oracle
    // renders the routed chain
    "sim_index_delete" -> {
      val w = s"e.vec_id % 10 NOT IN (${deleteResidues.mkString(", ")})"
      if (kc <= Similarity.ivfCentroids) ivfProbeSqlAt(kc, w)
      else ivf2LevelProbeSql(kc, w)
    },
    // the IVF-PQ deletion lifecycle ends in the plain staged ADC probe over
    // the corpus minus the tombstoned residues (codebook = the stage-time
    // artifact, so the ranking chain is the staged arm's own text)
    "sim_ivfpq_delete" -> ivfPqSqlAt(kc, 10,
      s"vec_id % 10 NOT IN (${deleteResidues.mkString(", ")})"),
    "sim_lsh_staged" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding", stagedWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(${SqlGen.cosSql("embedding", "qe")}, 6) AS cos_sim
         |FROM coded, q
         |WHERE bit_count(xor(lsh_code, qcode)) <= 1
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // the LSH deletion lifecycle ends in the plain staged probe over the
    // corpus minus the tombstoned residues, at the dir's resolved width
    "sim_lsh_delete" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding", stagedWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(${SqlGen.cosSql("embedding", "qe")}, 6) AS cos_sim
         |FROM coded, q
         |WHERE bit_count(xor(lsh_code, qcode)) <= 1
         |  AND vec_id % 10 NOT IN (${deleteResidues.mkString(", ")})
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // filtered recall: both arms restricted to the predicate population;
    // the approx arm mirrors the ham≤2 pre-filtering probe
    "sim_recall_filter" ->
      s"""WITH coded AS (SELECT vec_id, embedding, label, ${Similarity.lshCodeSql("embedding", stagedWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM embeddings, q WHERE label = $filterLabel AND vec_id <> 0) t
         |  WHERE rn <= $recallK),
         |ap AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM coded, q WHERE bit_count(xor(lsh_code, qcode)) <= 2
         |     AND label = $filterLabel AND vec_id <> 0) t
         |  WHERE rn <= $recallK)
         |SELECT $recallK AS k, count(*) AS hits, round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN ap USING (vec_id)""".stripMargin,
    // filtered IVF arm: same assignment + probe-list CTEs as sim_ivf_staged
    // but nprobe widened to filterNprobe and the predicate applied in the
    // probed-list scan (pre-filtering, like the Spark side)
    "sim_filter_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $kc),
         |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
         |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
         |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qprobe AS (SELECT cid FROM
         |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
         |   FROM cent c, q) t WHERE rn <= $filterNprobe)
         |SELECT e.vec_id, round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) AS cos_sim
         |FROM embeddings e JOIN a ON a.vec_id = e.vec_id JOIN qprobe p ON p.cid = a.cid, q
         |WHERE e.label = $filterLabel AND e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "sim_recall_filter_ivf" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $kc),
         |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
         |  (SELECT e.vec_id, c.cid, ${SqlGen.cosSql("e.embedding", "c.ce")} AS ccos FROM embeddings e, cent c) t),
         |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qprobe AS (SELECT cid FROM
         |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
         |   FROM cent c, q) t WHERE rn <= $filterNprobe),
         |ex AS (SELECT vec_id FROM
         |  (SELECT vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("embedding", "qe")}, 6) DESC, vec_id) AS rn
         |   FROM embeddings, q WHERE label = $filterLabel AND vec_id <> 0) t
         |  WHERE rn <= $recallK),
         |ap AS (SELECT vec_id FROM
         |  (SELECT e.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
         |   FROM embeddings e JOIN a ON a.vec_id = e.vec_id JOIN qprobe p ON p.cid = a.cid, q
         |   WHERE e.label = $filterLabel AND e.vec_id <> 0) t
         |  WHERE rn <= $recallK)
         |SELECT $recallK AS k, count(*) AS hits, round(count(*)/$recallK.0, 6) AS recall
         |FROM ex JOIN ap USING (vec_id)""".stripMargin,
    // filtered search: the same Hamming-≤1 candidate set INTERSECTED with
    // the predicate — mirrors the pre-filtering probe, not a post-filter
    "sim_filter_topk" ->
      s"""WITH coded AS (SELECT vec_id, embedding, label, ${Similarity.lshCodeSql("embedding", stagedWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(${SqlGen.cosSql("embedding", "qe")}, 6) AS cos_sim
         |FROM coded, q
         |WHERE bit_count(xor(lsh_code, qcode)) <= 2
         |  AND label = $filterLabel AND vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "sim_rp_topk" ->
      s"""WITH proj AS (SELECT vec_id, ${Similarity.randomProjectionSql("embedding")} AS rp FROM embeddings),
         |q AS (SELECT rp AS qr FROM proj WHERE vec_id = 0)
         |SELECT p.vec_id, round(${SqlGen.cosSql("p.rp", "q.qr", 16)}, 6) AS rp_cos
         |FROM proj p, q
         |ORDER BY rp_cos DESC, p.vec_id LIMIT 10""".stripMargin,
    "sim_ivf_topk" -> ivfProbeSql,
    // the staged twin ranks the same Hamming-≤1 candidate set — identical
    // SQL at the STAGED index's width (the two floors coincide, but each
    // renders from its own resolution)
    "sim_batch_staged" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding", stagedWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT * FROM coded WHERE vec_id < 3),
         |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |  round(${SqlGen.cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim
         |  FROM q JOIN coded c ON bit_count(xor(q.lsh_code, c.lsh_code)) <= 1 AND q.vec_id <> c.vec_id)
         |SELECT query_id, cand_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM
         | (SELECT query_id, cand_id, cos_sim,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn FROM cand) t
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // recall of the staged batch arm: exact and approx arms both rank by
    // round-6 cosine with vec_id tie-break and both EXCLUDE self (the batch
    // arms' query<>candidate contract); LEFT join keeps recall-0 queries
    "sim_recall_batch" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding", stagedWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id < 3),
         |ex AS (SELECT query_id, vec_id FROM
         |  (SELECT q.query_id, e.vec_id,
         |     row_number() OVER (PARTITION BY q.query_id ORDER BY round(${SqlGen.cosSql("e.embedding", "q.qe")}, 6) DESC, e.vec_id) AS rn
         |   FROM embeddings e, q WHERE e.vec_id <> q.query_id) t WHERE rn <= $batchRecallK),
         |ap AS (SELECT query_id, vec_id FROM
         |  (SELECT q.query_id, c.vec_id,
         |     row_number() OVER (PARTITION BY q.query_id ORDER BY round(${SqlGen.cosSql("c.embedding", "q.qe")}, 6) DESC, c.vec_id) AS rn
         |   FROM q JOIN coded c ON bit_count(xor(q.qcode, c.lsh_code)) <= 1 AND c.vec_id <> q.query_id) t
         |  WHERE rn <= $batchRecallK)
         |SELECT ex.query_id, $batchRecallK AS k, count(ap.vec_id) AS hits,
         |  round(count(ap.vec_id)/$batchRecallK.0, 6) AS recall
         |FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin,
    "sim_batch_topk" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding", batchWidth.forOracle(dir))} AS lsh_code FROM embeddings),
         |q AS (SELECT * FROM coded WHERE vec_id < 3),
         |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |  round(${SqlGen.cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim
         |  FROM q JOIN coded c ON bit_count(xor(q.lsh_code, c.lsh_code)) <= 1 AND q.vec_id <> c.vec_id)
         |SELECT query_id, cand_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM
         | (SELECT query_id, cand_id, cos_sim,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn FROM cand) t
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "sim_quant_topk" -> {
      def idot(a: String, b: String) =
        s"CAST(list_sum(list_transform(range(1, ${Similarity.dims + 1}), i -> $a[i]*$b[i])) AS DOUBLE)"
      s"""WITH scaled AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))/127.0 AS qscale FROM embeddings),
         |coded AS (SELECT vec_id, CASE WHEN qscale = 0.0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
         |  ELSE list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE)/qscale) AS BIGINT)) END AS qcodes FROM scaled),
         |q AS (SELECT qcodes AS qq FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(CASE WHEN ${idot("qcodes", "qcodes")} = 0 OR ${idot("qq", "qq")} = 0 THEN 0.0
         |  ELSE ${idot("qcodes", "qq")}/(sqrt(${idot("qcodes", "qcodes")})*sqrt(${idot("qq", "qq")})) END, 6) AS qcos
         |FROM coded, q
         |ORDER BY qcos DESC, vec_id LIMIT 10""".stripMargin
    },
    "sim_lsh_topk" ->
      s"""WITH coded AS (SELECT vec_id, embedding, ${Similarity.lshCodeSql("embedding")} AS lsh_code FROM embeddings),
         |q AS (SELECT embedding AS qe, lsh_code AS qcode FROM coded WHERE vec_id = 0)
         |SELECT vec_id, round(${SqlGen.cosSql("embedding", "qe")}, 6) AS cos_sim
         |FROM coded, q
         |WHERE bit_count(xor(lsh_code, qcode)) <= $lshTopKHamming
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)
  }
}
