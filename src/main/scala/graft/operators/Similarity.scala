package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.LshCode
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`), SURVEY Layer C12 + training-data extensions.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine against a broadcast query vector —
  *    the correctness baseline, and still the right plan when the query set
  *    is small (scan stays fully parallel, top-k is TakeOrderedAndProject,
  *    no shuffle of the big side).
  *  - [[withLshCode]] / LSH-bucketed variants: signed random hyperplanes →
  *    p-bit code; candidates = buckets within Hamming distance 1-2. At 100 TB
  *    the code is a partitioning/bucketing key: candidate generation is an
  *    equi-join on `code`, never a cross join.
  *
  * The plane count is NOT a constant at scale: a fixed code space makes the
  * candidate join key constant-cardinality and the pair count Θ(n²/2^p).
  * [[planesFor]] scales p with the corpus so the expected bucket occupancy
  * stays bounded; [[lshPlanes]] is the floor (and the value the DuckDB
  * oracle is generated with — verify-scale corpora stay exactly on it).
  *
  * Hyperplane components come from a fixed LCG (`(1103515245*i+12345) mod
  * 2001`, scaled to [-1,1]) rather than a runtime RNG, so codes are
  * deterministic and bit-identical in the DuckDB oracle.
  */
object Similarity {

  /** Default / oracle-pinned plane count: 2^16 = 65536 bucket values. */
  val lshPlanes = 16
  val dims = 64

  /** Data-scaled plane count: enough bits that the mean LSH bucket holds
    * ~[[targetBucketRows]] rows (`p = ceil(log2(n/target))`), floored at
    * [[lshPlanes]] so every verify/bench-scale corpus uses the oracle value,
    * capped at 32 (4.3e9 buckets — beyond that, bucket occupancy is set by
    * the data distribution, not the code width).
    */
  val targetBucketRows = 64L
  def planesFor(n: Long, floor: Int = lshPlanes): Int = {
    val buckets = math.max(1L, n / targetBucketRows)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceil(log2)
    math.min(32, math.max(floor, bits))
  }

  /** SQL fragment for plane p's d-th component, shared Spark/DuckDB shape. */
  private def planeComponent(p: Int, dExpr: String): String =
    s"(CAST((CAST(1103515245 AS BIGINT)*(${p * dims}+$dExpr)+12345) % 2001 AS DOUBLE) - 1000)/1000.0"

  /** Dot product of the embedding with pseudo-random plane p — interpreted
    * HOF formulation, kept for differential testing against [[LshCode]].
    */
  private[operators] def planeDot(vec: String, p: Int): Column =
    expr(s"""aggregate(
      zip_with($vec, transform(sequence(0, ${dims - 1}), d -> ${planeComponent(p, "d")}),
               (x, h) -> CAST(x AS DOUBLE) * h),
      CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""")

  /** HOF code derivation (differential-test twin of the native one). */
  private[operators] def lshCodeHof(vecCol: String, planes: Int = lshPlanes): Column =
    (0 until planes)
      .map(p => when(planeDot(vecCol, p) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Append an `lsh_code` column: bit p set iff dot(v, plane_p) > 0, via the
    * native codegen'd [[LshCode]] expression.
    */
  def withLshCode(df: DataFrame, vecCol: String = "embedding",
                  planes: Int = lshPlanes, planeOffset: Int = 0,
                  codeCol: String = "lsh_code"): DataFrame =
    df.withColumn(codeCol,
      ColumnBridge.column(LshCode(ColumnBridge.expression(col(vecCol)), planes, dims, planeOffset)))

  /** DuckDB rendering of the same code (kept adjacent to prevent drift). */
  def lshCodeSql(vecCol: String, planes: Int = lshPlanes, planeOffset: Int = 0): String =
    (0 until planes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(range(1, ${dims + 1}),
         | i -> CAST($vecCol[i] AS DOUBLE) * ${planeComponent(p + planeOffset, "(i-1)")})) > 0
         | THEN ${1L << p} ELSE 0 END)""".stripMargin.replaceAll("\n", "")
    }.mkString("(", " + ", ")")

  /** Per-vector symmetric int8 quantization: `scale = max|v_i|/127`,
    * `code_i = trunc(v_i/scale)` ∈ [-127, 127]. The 100 TB storage/bandwidth
    * lever for the embedding path — 4× smaller than float32, and since
    * cosine is scale-invariant the scale column isn't even needed to RANK
    * (quantized cosine = cosine of the integer code vectors; `qscale` is
    * kept for dequantizing magnitudes). trunc-toward-zero is the rounding
    * both engines reproduce exactly.
    */
  def withQuantized(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.withColumn("qscale",
        expr(s"aggregate($vecCol, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))") / 127.0)
      .withColumn("qcodes",
        expr(s"""CASE WHEN qscale = 0.0 THEN transform($vecCol, x -> CAST(0 AS BIGINT))
                 ELSE transform($vecCol, x -> CAST(CAST(x AS DOUBLE)/qscale AS BIGINT)) END"""))

  /** Cosine over integer code vectors (exact integer dot products, double
    * division at the end — engine-identical regardless of evaluation order).
    * Dots run through the native codegen'd [[graft.expressions.LongDotProduct]]
    * so the quantized ranking path stays inside whole-stage codegen like the
    * float path does.
    */
  private def codeCosine(a: Column, b: Column): Column = {
    def idot(x: Column, y: Column): Column =
      ColumnBridge.column(graft.expressions.LongDotProduct(
        ColumnBridge.expression(x), ColumnBridge.expression(y)))
    val (daa, dbb, dab) = (idot(a, a), idot(b, b), idot(a, b))
    when(daa === 0 || dbb === 0, lit(0.0))
      .otherwise(dab.cast("double") / (sqrt(daa.cast("double")) * sqrt(dbb.cast("double"))))
  }

  /** HOF formulation of the integer dot — differential-test twin of
    * [[graft.expressions.LongDotProduct]].
    */
  private[operators] def idotHof(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v)

  /** Top-k by QUANTIZED cosine vs one stored vector: ranking runs entirely
    * on int8 codes (the memory-resident representation); float vectors are
    * never touched after quantization.
    */
  def quantTopK(emb: DataFrame, queryId: Long, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = withQuantized(emb, vecCol).select(col(idCol), col("qcodes"))
    val q = coded.filter(col(idCol) === queryId).select(col("qcodes").as("qq"))
    coded.crossJoin(broadcast(q))
      .select(col(idCol), round(codeCosine(col("qcodes"), col("qq")), 6).as("qcos"))
      .orderBy(desc("qcos"), asc(idCol))
      .limit(k)
  }

  /** Exact cosine top-k vs one stored vector, by id — [[exactTopK]] over
    * the whole corpus, query row included.
    */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    exactTopK(emb, queryRow(emb, queryId, idCol, vecCol), k, idCol, vecCol)

  /** Stored vector `queryId` as the one-row query frame (`qe`) that
    * [[exactTopK]] broadcasts.
    */
  def queryRow(emb: DataFrame, queryId: Long, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    emb.filter(col(idCol) === queryId).select(col(vecCol).as("qe"))

  /** Exact cosine top-k of a POPULATION frame against a one-row query
    * frame `q` (column `qe`): broadcast the query, score every population
    * row, TakeOrdered by (cos_sim DESC, id ASC). The one ground-truth
    * definition every recall row grades against — the caller's population
    * carries the row's truth semantics (the whole corpus for single-query
    * rows, the corpus minus the query for batch rows, the predicate's
    * survivors for filtered rows).
    */
  def exactTopK(pop: DataFrame, q: DataFrame, k: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    pop.crossJoin(broadcast(q))
      .select(col(idCol), round(VectorOps.cosine(col(vecCol), col("qe")), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)

  /** LATE-INTERACTION (MaxSim) top-k: each candidate document scores
    * `Σ_q max_d dot(q, d)` over its vectors (`cands`: `docCol`, `vecCol`)
    * against the broadcast query-vector set (`q`: `qid`, `qVecCol`). Both
    * reductions are partial-aggregable groupBys; maxima are 6-rounded and
    * summed as DECIMAL, so the cross-vector sum is order-independent and
    * engine-exact. Served arms and their exact truths rank through this one
    * tail — they differ only in which candidate vectors they pass.
    */
  def maxSimTopK(cands: DataFrame, q: DataFrame, k: Int, docCol: String,
                 vecCol: String, qVecCol: String): DataFrame =
    cands.join(broadcast(q))
      .select(col(docCol), col("qid"), VectorOps.dot(col(vecCol), col(qVecCol)).as("d"))
      .groupBy(docCol, "qid").agg(max(col("d")).as("mx"))
      .groupBy(docCol)
      .agg(sum(round(col("mx"), 6).cast("decimal(18,6)")).as("sdec"))
      .select(col(docCol), round(col("sdec").cast("double"), 6).as("maxsim"))
      .orderBy(desc("maxsim"), asc(docCol))
      .limit(k)

  /** The recall harness: recall@k of an ANN `arm` against its exact
    * `truth`, both frames keyed by `keys :+ idCol`. One aggregation for
    * every reading — truth LEFT JOIN arm, hits counted per `keys` group —
    * so a group whose arm finds nothing reads `hits = 0, recall = 0.0`
    * instead of vanishing. `keys = Nil` is the single-query form (one
    * global row); a `query_id` key is the per-query batch form.
    * Output: `keys ++ (k, hits, recall)`, ordered by `keys`.
    */
  def recallAt(truth: DataFrame, arm: DataFrame, k: Int, idCol: String = "vec_id",
               keys: Seq[String] = Nil): DataFrame = {
    val on = keys :+ idCol
    val rows = truth.select(on.map(col): _*)
      .join(arm.select(on.map(col) :+ lit(1).as("hit"): _*), on, "left")
      .groupBy(keys.map(col): _*)
      .agg(count(col("hit")).as("hits"))
      .select(keys.map(col) ++ Seq(lit(k).as("k"), col("hits"),
        round(col("hits") / lit(k.toDouble), 6).as("recall")): _*)
    if (keys.isEmpty) rows else rows.orderBy(keys.map(col): _*)
  }

  /** The labelled form of [[recallAt]] — one row per `(label, arm)`, for
    * the tuning curves that sweep one knob against a single truth: each
    * arm is tagged with its label and the readings come out of the same
    * aggregation, keyed by `labelCol` (a `Long` column).
    */
  def recallCurve(truth: DataFrame, arms: Seq[(Long, DataFrame)], k: Int,
                  labelCol: String, idCol: String = "vec_id"): DataFrame = {
    def tagged(f: DataFrame => DataFrame): DataFrame = arms
      .map { case (l, arm) => f(arm).select(lit(l).as(labelCol), col(idCol)) }
      .reduce(_ unionAll _)
    recallAt(tagged(_ => truth), tagged(identity), k, idCol, Seq(labelCol))
  }

  /** LSH-bucketed top-k vs one stored vector: candidates are rows whose code
    * is within `maxHamming` of the query's code, then exact cosine on the
    * survivors. The scale path: the expensive similarity runs on a small
    * candidate set; everything before it is scan + equi-ish join.
    */
  def lshTopK(emb: DataFrame, queryId: Long, k: Int, maxHamming: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = withLshCode(emb, vecCol)
    val q = coded.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qe"), col("lsh_code").as("qcode"))
    coded.crossJoin(broadcast(q))
      .filter(expr(s"bit_count(lsh_code ^ qcode)") <= maxHamming)
      .select(col(idCol), round(VectorOps.cosine(col(vecCol), col("qe")), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** Multi-TABLE LSH top-k: the classic (L, K) amplification answer to a
    * low-recall single code table — L independent plane families (table t
    * codes with plane offset `t·planes`), candidates = the UNION of each
    * table's Hamming-≤maxHamming ball, exact cosine on the survivors. A
    * true neighbor is missed only if it misses ALL L balls, so the miss
    * probability multiplies across tables: measured on the synthetic corpus
    * (true neighbors at ~0.3 cosine — a hard ~72° angle for hyperplane
    * codes) the single-table Hamming-3 lookup reads recall@10 = 0.1 and
    * four Hamming-4 tables read 0.3 touching 4% of the corpus — the dial
    * the recall harness (`sim_recall*`) exists to set, and the measurement
    * that says THIS corpus is better served by IVF (recall 1.0). Same scale
    * shape as [[lshTopK]] per table; storage-side, each table is its own
    * [[stageLshBucketed]] index at 100 TB.
    */
  def lshMultiTopK(emb: DataFrame, queryId: Long, k: Int, tables: Int = 4,
                   maxHamming: Int = 2, planes: Int = lshPlanes,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = (0 until tables).foldLeft(emb) { (df, t) =>
      withLshCode(df, vecCol, planes, planeOffset = t * planes, codeCol = s"code_$t")
    }
    val q = coded.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qe") +:
        (0 until tables).map(t => col(s"code_$t").as(s"qcode_$t")): _*)
    coded.crossJoin(broadcast(q))
      .filter((0 until tables)
        .map(t => expr(s"bit_count(code_$t ^ qcode_$t)") <= maxHamming)
        .reduce(_ || _))
      .select(col(idCol), round(VectorOps.cosine(col(vecCol), col("qe")), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** BATCH ANN top-k: k nearest (by exact cosine) corpus vectors for EVERY
    * query vector at once — the shape batch workloads need, where the
    * single-query plans (broadcast one vector, scan-filter) stop making
    * sense. Candidates come from the same multi-probe LSH equi-join as
    * [[nearDupPairs]] (query side explodes to its p+1 Hamming-≤1 probe
    * codes; join key cardinality scales with `planes`), then exact cosine on
    * survivors and a per-query window top-k (the q28 shape: k survivors per
    * group). No cross join at any size.
    */
  def lshBatchTopK(emb: DataFrame, queries: DataFrame, k: Int = 5,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   planesOpt: Option[Int] = None,
                   nOpt: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = planesOpt.getOrElse(planesFor(nOpt.getOrElse(emb.count())))
    val corpus = withLshCode(emb, vecCol, planes)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("lsh_code").as("ccode"))
    val probes = withLshCode(queries, vecCol, planes)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(array(col("lsh_code") +:
          (0 until planes).map(b => col("lsh_code").bitwiseXOR(1L << b)): _*)).as("probe"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("cand_id"))
    probes.join(corpus, col("probe") === col("ccode") && col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorOps.cosine(col("qv"), col("cv")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rn"))
  }

  /** Default / oracle-pinned IVF list count. */
  val ivfCentroids = 16

  /** Data-scaled IVF list count (~sqrt(n)/16, floored at the oracle value so
    * verify/bench corpora stay on it). At n=1e9 this is ~2000 lists — still a
    * trivially broadcastable centroid table (2000×64 floats ≈ 0.5 MB).
    */
  def centroidsFor(n: Long): Int =
    math.max(ivfCentroids, math.ceil(math.sqrt(n / 256.0)).toInt)

  /** The deterministic STAND-IN codebook: the `k` smallest-id vectors as
    * centroids (`cid` = the row's own id, `ce` = its vector). Every
    * untrained IVF arm, its DuckDB oracle (`cent AS (... WHERE vec_id <
    * k)`) and [[trainCentroids]]' default init start from this prefix; a
    * trained codebook swaps in under the same (cid, ce) schema.
    */
  def standInCentroids(emb: DataFrame, k: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    emb.filter(col(idCol) < k).select(col(idCol).as("cid"), col(vecCol).as("ce"))

  /** k-means|| seeding (Bahmani et al., VLDB 2012, "Scalable k-means++"):
    * oversample ~`2k` candidates per round with keep-probability
    * ∝ squared cosine distance to the seeds so far, for `rounds` rounds,
    * then reduce the bounded candidate set to `k` seeds by weighted
    * farthest-first on the driver (candidates ≤ 1 + 2k·rounds — a model
    * artifact, never the corpus). Fixes the failure mode of positional
    * seeding ([[trainCentroids]]'s default smallest-id init): when the
    * first k ids all land in one region, Lloyd starts degenerate;
    * distance-weighted seeding provably spreads seeds across the data.
    *
    * Scale shape per round: broadcast current seeds → one scan computing
    * each point's nearest-seed distance (partial-aggregable max) → one
    * DECIMAL-summed scalar Σd² broadcast back → a stateless salted-hash
    * coin ([[Sampling.mixSample]]'s trick), so seeding is deterministic
    * across runs, partitionings, and engines — no RNG state anywhere.
    */
  def kmeansParInit(emb: DataFrame, k: Int = ivfCentroids, rounds: Int = 3,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val l = 2 * k
    var seeds = emb.orderBy(col(idCol)).limit(1)
      .select(col(idCol).as("cid"), col(vecCol).as("ce"))
      .localCheckpoint(true)
    for (r <- 0 until rounds) {
      val nearest = emb.crossJoin(broadcast(seeds))
        .select(col(idCol), col(vecCol),
          VectorOps.cosine(col(vecCol), col("ce")).as("c"))
        .groupBy(idCol)
        .agg(first(col(vecCol)).as(vecCol), max(col("c")).as("cmax"))
        .withColumn("d2", pow(greatest(lit(0.0), lit(1.0) - col("cmax")), 2))
      val tot = nearest.agg(
        sum(col("d2").cast("decimal(38,18)")).cast("double").as("t"))
      // t = 0 (every point already coincides with a seed) keeps nothing
      val kept = nearest.crossJoin(broadcast(tot))
        .filter(
          conv(substring(md5(concat(col(idCol).cast("string"), lit(s"#kmpar$r"))), 1, 15), 16, 10)
            .cast("long") <
          (when(col("t") > 0, least(lit(1.0), lit(l) * col("d2") / col("t")))
            .otherwise(lit(0.0)) * Sampling.hashSpace).cast("long"))
        .select(col(idCol).as("cid"), col(vecCol).as("ce"))
      seeds = seeds.union(kept).localCheckpoint(true)
    }
    // weight candidates by the points they capture, then reduce to k on the
    // driver: greedy weighted farthest-first (argmax of w·minDist², ties to
    // the smallest cid) — standard k-means|| recluster step, determinstic,
    // over a constant-bounded candidate set.
    val asn = emb.crossJoin(broadcast(seeds))
      .select(col(idCol), col("cid"), VectorOps.cosine(col(vecCol), col("ce")).as("c"))
      .groupBy(idCol)
      .agg(max_by(col("cid"), struct(col("c"), (-col("cid")).as("tie"))).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("w"))
    val cands = seeds.join(asn, Seq("cid"), "left")
      .select(col("cid"), col("ce"), coalesce(col("w"), lit(0L)).as("w"))
      .collect()
      .map(row => (row.getLong(0), row.getSeq[Float](1).toArray, row.getLong(2)))
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dp, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val chosen = scala.collection.mutable.ArrayBuffer(
      cands.maxBy(c => (c._3, -c._1)))
    while (chosen.size < k && chosen.size < cands.length) {
      val next = cands.filterNot(c => chosen.exists(_._1 == c._1))
        .maxBy { c =>
          val dmin = chosen.map(s => math.pow(math.max(0.0, 1.0 - cos(c._2, s._2)), 2)).min
          (c._3 * dmin, -c._1.toDouble)
        }
      chosen += next
    }
    val s = emb.sparkSession
    import s.implicits._
    chosen.toSeq.map(c => (c._1, c._2.toSeq)).toDF("cid", "ce")
      .select(col("cid"), col("ce").cast("array<float>").as("ce"))
  }

  /** Deterministic Lloyd/k-means refinement of IVF centroids over a bounded
    * systematic sample (ids ≡ 0 mod stride, stride sized so the sample stays
    * ≤ `sampleMax` rows — the standard move: an IVF codebook is trained on a
    * sample, then assignment runs over the full corpus).
    *
    * Everything distributed-cheap by construction: per iteration, assignment
    * is a broadcast of k centroids + `max_by` argmax over the sample; the
    * new centroids are an elementwise mean via posexplode + two partial-
    * aggregable groupBys. Only the k centroid rows themselves (the model,
    * not data) ever leave the cluster, via `localCheckpoint` truncating the
    * per-iteration lineage. Fixed init ([[standInCentroids]]), fixed
    * iteration count, ties toward smaller cid, empty clusters keep their
    * previous centroid — deterministic up to floating-point summation order
    * in the means (which is why the ORACLED query keeps the untrained
    * stand-in centroids: a codebook is a model artifact, not a query result).
    *
    * Since cosine ignores magnitude, the unnormalized mean IS the spherical
    * k-means update (the mean's direction maximizes within-cluster summed
    * cosine), so the objective is monotone non-decreasing per iteration.
    *
    * The per-position means are ORDER-INDEPENDENT: each cluster's component
    * values are collected, sorted, and summed in that fixed order (then
    * divided and cast to float) — so the trained codebook is bit-identical
    * across partitionings AND across engines, which is what lets the full
    * train→assign→probe path be oracle-hash-checked (`sim_ivf_trained`).
    * The collect is bounded by the sample size, never the corpus.
    */
  def trainCentroids(emb: DataFrame, k: Int = ivfCentroids, iters: Int = 3,
                     sampleMax: Long = 4096,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     nOpt: Option[Long] = None,
                     initOpt: Option[DataFrame] = None): DataFrame = {
    // nOpt lets a pipeline composing several auto-scaled ANN operators over
    // one frame share a single count job instead of re-counting per operator
    // (metadata-only on parquet, but four counts for one pipeline is noise).
    val n = nOpt.getOrElse(emb.count())
    val stride = math.max(1L, n / sampleMax)
    val sample = emb.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol), col(vecCol))
      .localCheckpoint(true)
    var cent = initOpt.getOrElse(standInCentroids(emb, k, idCol, vecCol))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val asn = sample.crossJoin(broadcast(cent))
        .select(col(idCol), col("cid"), VectorOps.cosine(col(vecCol), col("ce")).as("ccos"))
        .groupBy(idCol)
        .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("tie"))).as("cid"))
      val means = sample.join(asn, idCol)
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((expr("aggregate(array_sort(collect_list(CAST(x AS DOUBLE))), " +
          "CAST(0.0 AS DOUBLE), (a, v) -> a + v)") / count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, e -> CAST(e.m AS FLOAT))").as("ce"))
      cent = cent.as("prev").join(means.as("next"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("next.ce"), col("prev.ce")).as("ce"))
        .localCheckpoint(true)
    }
    cent
  }

  /** IVF-style ANN: partition vectors into cosine-nearest-centroid lists,
    * search only the `nprobe` lists nearest the query. Default centroids are
    * the smallest-id vectors — the deterministic stand-in the oracle mirrors;
    * pass `trained` (e.g. [[trainCentroids]] output, columns (cid, ce)) to
    * swap in a real codebook without changing the plan. At scale the
    * assignment is a broadcast join (centroid rows) + aggregation argmax
    * (`max_by` — partial-aggregable, no per-partition sort the way a
    * `row_number` window would), and the inverted lists are a partitioning
    * key. List count scales with the corpus via [[centroidsFor]].
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int = 10,
              centroidsNOpt: Option[Int] = None,
              nprobe: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding",
              trained: Option[DataFrame] = None,
              nOpt: Option[Long] = None): DataFrame = {
    val cent = trained.getOrElse(standInCentroids(emb,
      centroidsNOpt.getOrElse(centroidsFor(nOpt.getOrElse(emb.count()))), idCol, vecCol))

    // assignment: nearest centroid per vector (ties -> smallest cid) — r16:
    // the map-only [[nearestCidCol]] kernel over the collected artifact
    // (bit-identical to the crossJoin → max_by argmax it replaces), and the
    // query's nprobe lists from the same artifact via [[nearestCidsFor]]
    // (bit-identical to the TakeOrdered selection). The whole query is one
    // projection + filter + TakeOrdered over the corpus scan.
    val (ids, vecs) = collectCent(cent)
    // the prefix stand-in's cid IS the corpus vec_id, so the query row can
    // come off the artifact; a TRAINED codebook's cid is a list id, not a
    // row id — the query must then read from the corpus
    val qe =
      if (trained.isEmpty && ids.contains(queryId))
        vecs(ids.indexOf(queryId)).toArray
      else queryVecOf(emb, idCol, vecCol, queryId)
    val probeCids = nearestCidsFor(qe, ids, vecs, nprobe)
    cosineTopK(
      emb.select(col(idCol), col(vecCol),
          nearestCidCol(col(vecCol), ids, vecs).as("cid"))
        .filter(col("cid").isin(probeCids: _*)),
      qe, k, idCol, vecCol)
  }

  /** Exact cosine top-k of probe candidates against a literal query
    * vector — the ranking tail every probe shares.
    */
  private def cosineTopK(cands: DataFrame, queryVec: Array[Float], k: Int,
                         idCol: String, vecCol: String): DataFrame =
    cands.select(col(idCol),
        round(VectorOps.cosine(col(vecCol), typedlit(queryVec)), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)

  /** The rows of `table`'s probed buckets — a bucket-pruned IN() on the
    * storage `key` — minus every id a co-keyed tombstone table shadows.
    * With `tombTableOpt` set, both sides prune to the SAME probed buckets
    * (the reason [[deleteStagedIvf]]/[[deleteStagedLsh]] co-key them) and a
    * broadcast anti-join drops deleted rows: deletes are visible the moment
    * the tombstone lands, long before [[Bucketing.compactDeletes]] applies
    * them. Without it, the read is the plain pruned scan.
    */
  private def probedRows(spark: SparkSession, table: String, key: String,
                         probes: Seq[Long], idCol: String,
                         tombTableOpt: Option[String]): DataFrame = {
    val rows = Bucketing.read(spark, table).filter(col(key).isin(probes: _*))
    tombTableOpt.fold(rows) { tt =>
      val tomb = Bucketing.read(spark, tt)
        .filter(col(key).isin(probes: _*))
        .select(col(idCol))
      rows.join(broadcast(tomb), Seq(idCol), "left_anti")
    }
  }

  /** The query code plus its `planes` one-bit flips: the Hamming-≤1 ball
    * a staged LSH probe reads.
    */
  private def hammingBall1(qcode: Long, planes: Int): Seq[Long] =
    qcode +: (0 until planes).map(b => qcode ^ (1L << b))

  /** Stage an embedding corpus as a bucketed catalog table keyed by its LSH
    * code — the SERVING path for single-query lookups. [[lshTopK]] is the
    * right plan for batch scoring (one fully-parallel scan), but as a lookup
    * structure it reads the whole corpus per query. Staging pays one shuffle
    * at write time to make `lsh_code` a STORAGE key; a probe then arrives as
    * literal code values in an IN() predicate, and the parquet scan opens
    * only the matching buckets (bucket pruning — the physical plan shows
    * `SelectedBucketsCount: p out of b`), i.e. ~(probes/2^planes) of the
    * corpus instead of all of it. At 100 TB, with [[planesFor]]-scaled code
    * width and a few thousand storage buckets, a Hamming-1 probe reads
    * (planes+1) buckets' worth of I/O — independent of corpus size.
    */
  def stageLshBucketed(emb: DataFrame, table: String, planes: Int = lshPlanes,
                       buckets: Int = 16, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       payloadCols: Seq[String] = Nil): Unit =
    Bucketing.writeBucketed(
      withLshCode(emb, vecCol, planes)
        .select((Seq(col(idCol), col(vecCol)) ++ payloadCols.map(col)
          :+ col("lsh_code")): _*),
      table, "lsh_code", buckets)

  /** Append a new batch into a [[stageLshBucketed]] index — the ingest path
    * that keeps the serving index live without restaging the corpus: the
    * batch is coded and shuffled into the existing buckets
    * ([[Bucketing.appendBucketed]]); per-ingest cost ∝ batch size, and
    * probes over the grown index stay bucket-pruned.
    */
  def appendStagedLsh(batch: DataFrame, table: String, planes: Int = lshPlanes,
                      buckets: Int = 16, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit =
    Bucketing.appendBucketed(
      withLshCode(batch, vecCol, planes).select(col(idCol), col(vecCol), col("lsh_code")),
      table, "lsh_code", buckets)

  /** Record a DELETE batch against a [[stageLshBucketed]] index as
    * TOMBSTONES — the LSH twin of [[deleteStagedIvf]], shaped by the arm's
    * storage key: the CODE is the key, and a row's code is a pure function
    * of its vector and the plane family, so the tombstone lands in exactly
    * the bucket of the live row it shadows (coded over the batch only,
    * cost ∝ batch) and probes prune BOTH sides by the same literal code
    * list. Physical removal is [[Bucketing.compactDeletes]]'s business,
    * keyed by `lsh_code`.
    */
  def deleteStagedLsh(batch: DataFrame, tombTable: String,
                      planes: Int = lshPlanes, buckets: Int = 16,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit =
    Bucketing.appendBucketed(
      withLshCode(batch, vecCol, planes).select(col(idCol), col("lsh_code")),
      tombTable, "lsh_code", buckets)

  /** Probe a [[stageLshBucketed]] table: candidates = rows whose code is
    * within Hamming distance 1 of the query's code, fetched via the literal
    * probe-code list (bucket-pruned scan); exact cosine re-ranks survivors.
    * The query vector and its code are plain VALUES, not a frame — in a
    * serving path they come from the application, so no corpus scan precedes
    * the probe. `tombTableOpt`: a [[deleteStagedLsh]] tombstone table whose
    * ids are shadowed from the answer ([[probedRows]]).
    */
  def probeStagedLsh(spark: SparkSession, table: String, queryVec: Array[Float],
                     qcode: Long, planes: Int = lshPlanes, k: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     tombTableOpt: Option[String] = None): DataFrame =
    cosineTopK(
      probedRows(spark, table, "lsh_code", hammingBall1(qcode, planes), idCol,
        tombTableOpt),
      queryVec, k, idCol, vecCol)

  /** FILTERED probe of a payload-carrying [[stageLshBucketed]] table:
    * predicate + vector search in one lookup — "nearest neighbors AMONG
    * rows satisfying P", the serving shape every production vector store
    * ends up needing (per-tenant, per-language, per-label search). The
    * filter column lives IN the index rows, so the predicate applies
    * inside the bucket-pruned scan (pre-filtering — a post-filter over an
    * unfiltered top-k silently starves selective predicates). The probe
    * ball WIDENS to Hamming ≤ `ham` (default 2 vs the unfiltered probe's
    * 1) — the standard filtered-search compensation: the predicate removes
    * a fixed fraction of every bucket, so the ball must grow to keep the
    * surviving candidate count; the IN-list is still O(planes²) literal
    * codes, bucket-pruned, corpus-independent.
    *
    * MEASURED LIMIT (r11, `sim_recall_filter`): recall 0.3 at sf0.01 and
    * 0.0 at sf1 — the fixed ham ≤ 2 ball does NOT keep up with corpus
    * growth under a selective predicate, because the adaptive code width
    * grows with the corpus and the predicate's survivors inside the probed
    * buckets thin out. For production filtered serving use
    * [[probeStagedIvfFiltered]] (the arm whose unfiltered recall measures
    * 1.0); this probe remains the right shape only when the predicate is
    * mild or the corpus small.
    */
  def probeStagedLshFiltered(spark: SparkSession, table: String,
                             queryVec: Array[Float], qcode: Long,
                             pred: org.apache.spark.sql.Column,
                             planes: Int = lshPlanes, k: Int = 10,
                             ham: Int = 2,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(ham >= 1 && ham <= 2, s"probe ball must be 1 or 2, got $ham")
    val two = if (ham < 2) Seq.empty else for {
      i <- 0 until planes; j <- (i + 1) until planes
    } yield qcode ^ (1L << i) ^ (1L << j)
    cosineTopK(
      probedRows(spark, table, "lsh_code", hammingBall1(qcode, planes) ++ two,
        idCol, None).filter(pred),
      queryVec, k, idCol, vecCol)
  }

  /** Probe a [[stageLshBucketed]] table for a BATCH of query vectors — the
    * many-queries serving shape (r9 verdict lever 7): where
    * [[lshBatchTopK]] codes and scans the whole corpus per call, this
    * opens ONLY the buckets of the batch's probe codes. All queries'
    * Hamming-≤1 probe codes collapse into one literal IN-list (bucket
    * pruning — `SelectedBucketsCount`, plan-audited); the bounded query
    * batch broadcasts onto the pruned scan, each (query, candidate) pair
    * re-checks its own Hamming ball, and exact cosine ranks per query.
    * Probe I/O ∝ probed buckets × batch, never the corpus.
    */
  def probeStagedLshBatch(spark: SparkSession, table: String,
                          queries: Seq[(Long, Array[Float], Long)],
                          planes: Int = lshPlanes, k: Int = 5,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val allProbes = queries.flatMap { case (_, _, c) => hammingBall1(c, planes) }.distinct
    val qdf = queries.toDF("query_id", "qv", "qcode")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("cand_id"))
    Bucketing.read(spark, table)
      .filter(col("lsh_code").isin(allProbes: _*))
      .join(broadcast(qdf),
        expr("bit_count(lsh_code ^ qcode) <= 1") && col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("cand_id"),
        round(VectorOps.cosine(col("qv"), col(vecCol)), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rn"))
  }

  /** Stage IVF inverted lists as a bucketed catalog table keyed by the
    * assigned centroid id — the IVF twin of [[stageLshBucketed]]. Assignment
    * is the same broadcast-centroids + `max_by` argmax as [[ivfTopK]] (the
    * embedding rides through the aggregate via `first`, constant within a
    * group); the write then makes `cid` the storage key, so a probe of
    * `nprobe` lists opens only those lists' buckets instead of scanning and
    * re-assigning the corpus per query.
    */
  def stageIvfBucketed(emb: DataFrame, cent: DataFrame, table: String,
                       buckets: Int = 8, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       payloadCols: Seq[String] = Nil,
                       centArtOpt: Option[(Seq[Long], Seq[Seq[Float]])] = None)
      : Unit = {
    // r16: the crossJoin(broadcast) → groupBy-argmax chain is replaced by
    // the map-only [[nearestCidCol]] kernel over the driver-collected
    // centroid artifact (bounded by construction) — bit-identical cid
    // (IndexKernelsSpec pins parity incl. the tie and zero-norm rules),
    // and the staging plan loses its Exchange + HashAggregate: it is now
    // scan → project → bucketed write at any corpus size.
    val (ids, vecs) = centArtOpt.getOrElse(collectCent(cent))
    Bucketing.writeBucketed(
      emb.select((Seq(col(idCol), col(vecCol)) ++ payloadCols.map(col)
        :+ nearestCidCol(col(vecCol), ids, vecs).as("cid")): _*),
      table, "cid", buckets)
  }

  /** Driver-collected centroid artifact in ascending-cid order — the input
    * shape of the [[graft.expressions.NearestCentroidId]] kernel. Bounded
    * by construction (≤ kc rows, the same artifact the replaced plans
    * broadcast), so the collect is the same driver traffic class as a
    * broadcast build.
    */
  def collectCent(cent: DataFrame): (Seq[Long], Seq[Seq[Float]]) = {
    val rows = cent.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    (rows.map(_._1).toSeq, rows.map(_._2).toSeq)
  }

  /** The query row's vector, read from the corpus — with a descriptive
    * failure for an absent id (r17, ADVICE: the bare `.head()` threw a
    * blank NoSuchElementException where the replaced crossJoin-with-empty-q
    * plans returned empty frames; an explicit require names the id).
    */
  private def queryVecOf(emb: DataFrame, idCol: String, vecCol: String,
                         queryId: Long): Array[Float] = {
    val rows = emb.filter(col(idCol) === queryId).select(col(vecCol)).head(1)
    require(rows.nonEmpty, s"query id $queryId not found in the corpus")
    rows(0).getSeq[Float](0).toArray
  }

  /** Map-only nearest-centroid assignment column (cosine, ties to the
    * smaller cid) — the codegen kernel form of the crossJoin → max_by
    * argmax, bit-identical by the kernel's contract.
    */
  def nearestCidCol(vec: Column, ids: Seq[Long], vecs: Seq[Seq[Float]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.NearestCentroidId(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(vec), ids, vecs))

  /** Append a new batch into a [[stageIvfBucketed]] index — the IVF
    * counterpart of [[appendStagedLsh]]: the batch is assigned against the
    * SAME centroid codebook the index was staged with (centroids are a
    * bounded model artifact, so assignment is a broadcast argmax over the
    * batch only), then shuffled into the existing `cid` buckets. Per-ingest
    * cost ∝ batch size; probes over the grown index stay bucket-pruned.
    */
  def appendStagedIvf(batch: DataFrame, cent: DataFrame, table: String,
                      buckets: Int = 8, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      centArtOpt: Option[(Seq[Long], Seq[Seq[Float]])] = None)
      : Unit = {
    // r16: map-only kernel assignment (see [[stageIvfBucketed]]) — the
    // per-ingest plan is project → append, no Exchange before the bucketed
    // write's own shuffle.
    val (ids, vecs) = centArtOpt.getOrElse(collectCent(cent))
    Bucketing.appendBucketed(
      batch.select(col(idCol), col(vecCol),
        nearestCidCol(col(vecCol), ids, vecs).as("cid")),
      table, "cid", buckets)
  }

  /** Probe a [[stageIvfBucketed]] table: read only the `probeCids` inverted
    * lists (bucket-pruned IN() on the storage key), exact cosine top-k on
    * the survivors. `tombTableOpt`: a [[deleteStagedIvf]] tombstone table
    * whose ids are shadowed from the answer ([[probedRows]]).
    */
  def probeStagedIvf(spark: SparkSession, table: String, queryVec: Array[Float],
                     probeCids: Seq[Long], k: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     tombTableOpt: Option[String] = None): DataFrame =
    cosineTopK(probedRows(spark, table, "cid", probeCids, idCol, tombTableOpt),
      queryVec, k, idCol, vecCol)

  /** Routing groups for [[assignTwoLevel]]: √kc super-lists balances the
    * two levels' work (g + kc/g minimized at g = √kc).
    */
  def groupsFor(kc: Int): Int =
    math.max(1, math.ceil(math.sqrt(kc.toDouble)).toInt)

  /** TWO-LEVEL (routed) list assignment — the staging-superlinearity fix
    * the SCALE_r15 rehearsal priced: exact argmax assignment evaluates
    * n·kc cosines, and with the data-scaled kc ≈ √(n/256) that is
    * n^1.5/16 — measured 266 s at 2M vectors and 2e12 kernel evaluations
    * at 1e9. This routes each vector through `g = √kc` SUPER-centroids
    * first, then argmaxes only among the centroids whose own nearest
    * super-centroid matches — n·(g + kc/g) ≈ 2n√kc evaluations, the
    * standard coarse-routing trade every large IVF build makes.
    *
    * Deterministic end-to-end (every level is an exact argmax with the
    * (cos DESC, id ASC) tie rule; super-centroids are the codebook's first
    * g rows; each group contains at least its own super-centroid, so no
    * vector can route into an empty group) — which is what makes the
    * routed assignment ORACLE-renderable, unlike a sampled or randomized
    * approximation. The price is approximation: a vector whose true
    * nearest list lives in a different routing group lands on the wrong
    * list — `sim_assign_2level` MEASURES that disagreement and
    * `sim_recall_ivf_2level` prices what it costs the probe.
    */
  def assignTwoLevel(emb: DataFrame, cent: DataFrame, g: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val sup = cent.filter(col("cid") < g)
      .select(col("cid").as("gid"), col("ce").as("ge"))
    // bounded model artifact: each centroid's routing group (kc·g cosines)
    val member = cent.crossJoin(broadcast(sup))
      .select(col("cid"), col("ce"), col("gid"),
        VectorOps.cosine(col("ce"), col("ge")).as("gcos"))
      .groupBy("cid")
      .agg(first(col("ce")).as("ce"),
        max_by(col("gid"), struct(col("gcos"), (-col("gid")).as("tie"))).as("gid"))
    // level 1: route each vector to its nearest super-centroid (n·g)
    val routed = emb.crossJoin(broadcast(sup))
      .select(col(idCol), col(vecCol), col("gid"),
        VectorOps.cosine(col(vecCol), col("ge")).as("gcos"))
      .groupBy(idCol)
      .agg(first(col(vecCol)).as(vecCol),
        max_by(col("gid"), struct(col("gcos"), (-col("gid")).as("tie"))).as("gid"))
    // level 2: exact argmax among the routed group's centroids (n·kc/g avg)
    routed.join(broadcast(member), "gid")
      .select(col(idCol), col(vecCol), col("cid"),
        VectorOps.cosine(col(vecCol), col("ce")).as("ccos"))
      .groupBy(idCol)
      .agg(first(col(vecCol)).as(vecCol),
        max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("tie"))).as("cid"))
  }

  /** Stage IVF lists under the ROUTED assignment — [[stageIvfBucketed]]
    * with [[assignTwoLevel]] replacing the exact argmax; everything
    * downstream (bucket layout, probes, appends via the same routing)
    * is unchanged.
    */
  def stageIvfBucketedTwoLevel(emb: DataFrame, cent: DataFrame, g: Int,
                               table: String, buckets: Int = 8,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): Unit =
    Bucketing.writeBucketed(
      assignTwoLevel(emb, cent, g, idCol, vecCol)
        .select(col(idCol), col(vecCol), col("cid")),
      table, "cid", buckets)

  /** Record a DELETE batch against a [[stageIvfBucketed]] index as
    * TOMBSTONES — the only delete a parquet-backed index can take online
    * (files are immutable; rewriting a list per delete request would make
    * each delete ∝ its list). The batch is assigned against the SAME
    * pinned centroid artifact the index was staged with — a row's list id
    * is a pure function of its vector and the codebook, so the tombstone
    * lands in the same `cid` bucket as the live row it shadows (broadcast
    * argmax, cost ∝ batch, no index scan) and probes can prune BOTH sides
    * by the same storage key. Physical removal is the maintenance job's
    * business ([[Bucketing.compactDeletes]]).
    */
  def deleteStagedIvf(batch: DataFrame, cent: DataFrame, tombTable: String,
                      buckets: Int = 8, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      centroidsN: Int = ivfCentroids,
                      centArtOpt: Option[(Seq[Long], Seq[Seq[Float]])] = None)
      : Unit = {
    // the tombstone's cid MUST reproduce the staged row's cid — same
    // assignment regime as the staging (exact at the floor, routed above
    // it): a tombstone on the wrong list would miss the pruned anti-join
    // (deleted row still served) and dirty the wrong bucket (live row
    // never rewritten — resurrection after the tombstones drop)
    val assigned =
      if (centroidsN > ivfCentroids)
        assignTwoLevel(batch, cent, groupsFor(centroidsN), idCol, vecCol)
          .select(col(idCol), col("cid"))
      else {
        // r16: map-only kernel assignment at the floor (see
        // [[stageIvfBucketed]]) — tombstoning a batch is project → append;
        // callers that already hold the collected artifact pass it so the
        // batch pays zero selection jobs
        val (ids, vecs) = centArtOpt.getOrElse(collectCent(cent))
        batch.select(col(idCol), nearestCidCol(col(vecCol), ids, vecs).as("cid"))
      }
    Bucketing.appendBucketed(
      assigned.select(col(idCol), col("cid")), tombTable, "cid", buckets)
  }

  /** Probe a [[stageIvfBucketed]] table for a BATCH of query vectors — the
    * many-queries serving shape on the IVF arm (it existed only on the LSH
    * arm, whose single-query recall measures 0.1 on this corpus vs IVF's
    * 1.0 — the batch shape belongs on the arm that actually serves). All
    * queries' probe lists collapse into one literal IN (bucket pruning,
    * `SelectedBucketsCount`); the bounded query batch broadcasts onto the
    * pruned scan; each (query, candidate) pair re-checks membership of the
    * candidate's list in ITS query's probe set; exact cosine ranks per
    * query, self excluded (the batch arms' query ≠ candidate contract).
    * Probe I/O ∝ the union of probed lists × nothing — never the corpus.
    */
  def probeStagedIvfBatch(spark: SparkSession, table: String,
                          queries: Seq[(Long, Array[Float], Seq[Long])],
                          k: Int = 5, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val allCids = queries.flatMap(_._3).distinct
    val qdf = queries.toDF("query_id", "qv", "probe_cids")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("cand_id"))
    Bucketing.read(spark, table)
      .filter(col("cid").isin(allCids: _*))
      .join(broadcast(qdf),
        array_contains(col("probe_cids"), col("cid")) &&
          col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("cand_id"),
        round(VectorOps.cosine(col("qv"), col(vecCol)), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rn"))
  }

  /** FILTERED probe of a payload-carrying [[stageIvfBucketed]] table —
    * the predicate-under-search shape on the IVF arm. The r11 measurements
    * settled which arm can serve it: the LSH filtered probe measured recall
    * 0.0 at sf1 (the Hamming ball prunes by code, and the predicate's
    * survivors in the probed buckets vanish as the corpus grows) while the
    * unfiltered IVF arm measured 1.0 — inverted lists degrade gracefully
    * because a list's members stay the query's geometric neighborhood at
    * any corpus size. Compensation for the predicate: WIDEN `nprobe`
    * (callers pass ~2× the unfiltered probe count) rather than the code
    * ball — more lists, each still bucket-pruned I/O, predicate applied
    * in-scan (pre-filter, never a starved post-filter).
    */
  def probeStagedIvfFiltered(spark: SparkSession, table: String,
                             queryVec: Array[Float], probeCids: Seq[Long],
                             pred: org.apache.spark.sql.Column, k: Int = 10,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame =
    cosineTopK(probedRows(spark, table, "cid", probeCids, idCol, None).filter(pred),
      queryVec, k, idCol, vecCol)

  /** Product-quantization geometry: [[pqM]] subspaces of `dims/pqM`
    * components each, [[pqK]] codewords per subspace. At these defaults a
    * 64-dim float vector (256 bytes) compresses to 8 half-byte codes — the
    * 100 TB memory-residency lever for ANN serving (the IVF-PQ layout:
    * coarse lists from [[ivfTopK]]/[[stageIvfBucketed]], residuals coded by
    * THIS operator inside each list).
    */
  val pqM = 8
  val pqK = 16
  def pqSubDim: Int = dims / pqM

  /** One row per (subspace j, vector): the vector's j-th `pqSubDim`-wide
    * slice. The explode is how every PQ stage stays a plain equi-join /
    * partial-aggregable groupBy instead of a per-vector loop.
    */
  private def pqSubspaces(df: DataFrame, out: String,
                          idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), explode(expr(
        s"transform(sequence(0, ${pqM - 1}), j -> struct(j AS j, slice($vecCol, j*$pqSubDim+1, $pqSubDim) AS $out))")).as("e"))
      .select(col(idCol), col("e.j").as("j"), col(s"e.$out").as(out))

  /** Deterministic PQ codebook stand-in (same convention as [[ivfTopK]]'s
    * centroids): codeword (j, k) is the j-th slice of vector `k`. A trained
    * codebook (per-subspace [[trainCentroids]] on slices) swaps in without
    * changing any downstream plan.
    */
  def pqCodebook(emb: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    pqSubspaces(emb.filter(col(idCol) < pqK), "cw", idCol, vecCol)
      .select(col("j"), col(idCol).cast("long").as("k"), col("cw"))

  /** Per-vector IVF RESIDUALS: each vector's coarse assignment plus
    * `rv = v − ce(cid)` as a DOUBLE array (both operands cast before the
    * subtraction — the fixed dag a DuckDB oracle reproduces bit-for-bit).
    * The r12 recall harness read pure-ADC IVF-PQ at 0.4: with raw vectors,
    * the 16 codewords per subspace waste their budget re-describing the
    * coarse structure the IVF centroid already explains. Quantizing the
    * residual instead is the standard billion-scale shape (IVF-ADC with
    * residual codebooks): the codebook spends its 16 cells on the
    * WITHIN-LIST geometry, and the exact per-list term `dot(q, ce)` is
    * added back at ranking time.
    */
  def residuals(emb: DataFrame, cent: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding",
                centroidsN: Int = ivfCentroids): DataFrame = {
    // coarse assignment: exact argmax at the floor; ROUTED above it (r16 —
    // the residual-encoding paths were the last n·kc exact-assignment wall
    // after the plain/trained/rotation stagings routed; SCALE_r16 §1
    // measured it at 263 s for 2M vectors). Same regime split as
    // [[stageIvfBucketedTwoLevel]]'s callers, so the kc-parameterized
    // IVF-PQ oracles render the matching chain.
    if (centroidsN > ivfCentroids) {
      val assigned = assignTwoLevel(emb, cent, groupsFor(centroidsN), idCol, vecCol)
        .select(col(idCol), col("cid"))
      emb.join(assigned, idCol).join(broadcast(cent), "cid")
        .select(col(idCol), col("cid"),
          expr(s"zip_with($vecCol, ce, (x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE))")
            .as("rv"))
    } else {
      // r16: at the floor the whole residual derivation is ONE map-only
      // projection — kernel cid (bit-identical argmax) + centroid lookup
      // from a constant-folded map literal + the SAME zip_with subtraction.
      // The replaced shape paid an Exchange + HashAggregate for the argmax
      // and another join-back exchange to re-attach the vector.
      val (ids, vecs) = collectCent(cent)
      val ceOf = element_at(
        map_from_arrays(typedlit(ids), typedlit(vecs)), col("cid"))
      emb.select(col(idCol),
          nearestCidCol(col(vecCol), ids, vecs).as("cid"), col(vecCol))
        .select(col(idCol), col("cid"),
          zip_with(col(vecCol), ceOf,
            (x, c) => x.cast("double") - c.cast("double")).as("rv"))
    }
  }

  /** Deterministic RESIDUAL codebook stand-in: codeword (j, k) is the j-th
    * slice of the residual of vector `k`, for k in
    * `[centroidsN, centroidsN + pqK)` — the centroid vectors themselves
    * are skipped because their residuals are identically zero (a centroid
    * assigns to itself), which would collapse the codebook. `centroidsN`
    * is the LIST COUNT the `cent` prefix was built with (r16: the staged
    * IVF-PQ arms resolve it data-scaled, so the stand-in window moves with
    * the prefix instead of pinning 16). A trained residual codebook
    * (per-subspace k-means over residual slices) swaps in without changing
    * any downstream plan, same as [[pqCodebook]].
    */
  def pqCodebookResidual(emb: DataFrame, cent: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         centroidsN: Int = ivfCentroids): DataFrame =
    // the window PRE-filters before the assignment: a row's (routed or
    // exact) list id is a pure function of its own vector and the codebook,
    // so assigning only the pqK window rows is identical to assigning the
    // corpus and filtering — but provably bounded, instead of trusting the
    // optimizer to push the window through the assignment chain's
    // aggregates (measured: the un-pushed routed chain cost the 2M warm
    // probe ~2.5 s per derivation)
    pqSubspaces(
      residuals(emb.filter(col(idCol) >= centroidsN && col(idCol) < centroidsN + pqK),
        cent, idCol, vecCol, centroidsN),
      "cw", idCol, "rv")
      .select(col("j"), col(idCol).cast("long").as("k"), col("cw"))

  /** Per-subspace Lloyd refinement of the RESIDUAL PQ codebook over the
    * bounded systematic sample — [[trainCentroids]]'s contract applied one
    * level down (C17 trained the stand-in IVF centroids; this trains the
    * stand-in residual codewords): sample ids ≡ 0 mod stride (stride sized
    * so the sample stays ≤ `sampleMax` rows), init = the deterministic
    * [[pqCodebookResidual]] stand-in, then per iteration an argmin
    * assignment of every sample residual SLICE to its nearest codeword
    * (the codegen'd squared-L2 kernel, ties to the smaller codeword id —
    * `pqEncode`'s exact rule) and per-(subspace, codeword, position) means
    * as sorted left-to-right folds (the engine-exact mean the oracle's
    * `list_sum(list_sort(list(...)))` reproduces). Codewords that attract
    * no sample keep their previous cells. All distributed-cheap: the
    * codebook (M·K rows) broadcasts, the sample is bounded, and only the
    * M·K codeword rows ever reach the driver's plan.
    */
  def trainPqCodebookResidual(emb: DataFrame, cent: DataFrame, iters: Int = 2,
                              sampleMax: Long = 4096,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              nOpt: Option[Long] = None,
                              centroidsN: Int = ivfCentroids): DataFrame = {
    val n = nOpt.getOrElse(emb.count())
    val stride = math.max(1L, n / sampleMax)
    val slices = pqSubspaces(
        residuals(emb.filter(pmod(col(idCol), lit(stride)) === 0), cent,
          idCol, vecCol, centroidsN).select(col(idCol), col("rv")),
        "sv", idCol, "rv")
      .localCheckpoint(true)
    var cb = pqCodebookResidual(emb, cent, idCol, vecCol, centroidsN)
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val asn = slices.join(broadcast(cb), "j")
        .select(col(idCol), col("j"), col("k"), l2sq("sv", "cw").as("dist"))
        .groupBy(idCol, "j")
        .agg(max_by(col("k"),
          struct((-col("dist")).as("nd"), (-col("k")).as("tie"))).as("k"))
      val means = slices.join(asn, Seq(idCol, "j"))
        .select(col("j"), col("k"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("j", "k", "pos")
        .agg((expr("aggregate(array_sort(collect_list(CAST(x AS DOUBLE))), " +
          "CAST(0.0 AS DOUBLE), (a, v) -> a + v)") / count(lit(1))).as("m"))
        .groupBy("j", "k")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("j"), col("k"), expr("transform(pm, e -> e.m)").as("cw"))
      cb = cb.as("prev").join(means.as("next"), Seq("j", "k"), "left")
        .select(col("j"), col("k"),
          coalesce(col("next.cw"), col("prev.cw")).as("cw"))
        .localCheckpoint(true)
    }
    cb
  }

  /** Left-to-right-fold squared L2 between two subvector columns — the fold
    * order DuckDB's `list_sum(list_transform(...))` reproduces exactly.
    * r14: the codegen'd [[graft.expressions.ArrayL2Sq]] kernel (bit-equal
    * to the HOF formulation it replaced, parity spec-pinned) — this is the
    * PQ encode's n·M·K-evaluated hot expression, and the interpreted HOF
    * was the measured wall of the decade rehearsal (SCALE_r14 §2).
    */
  private def l2sq(a: String, b: String): Column =
    // r17 (§4 kernel hygiene): both operands are vector columns with
    // non-null elements by the staged-embedding contract, but slice()/
    // collect_list() results type as containsNull=true — the static
    // KnownNonNullElems re-declaration makes the n·M·K-evaluated fold
    // compile branch-free (no per-element null check).
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.ArrayL2Sq(
        graft.expressions.KnownNonNullElems(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(a))),
        graft.expressions.KnownNonNullElems(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(b)))))

  /** PQ-encode a corpus: per (vector, subspace), the nearest codeword id by
    * squared L2 (ties toward the smaller id — the same aggregation-argmax as
    * IVF assignment, no window sort over the n×M×K distance rows). Encoding
    * work is linear in corpus size; the output is M small ints per vector —
    * the representation that keeps a 100 TB corpus's ANN index in memory.
    */
  def pqEncode(emb: DataFrame, codebook: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqSubspaces(emb, "sv", idCol, vecCol)
      .join(broadcast(codebook), "j")
      .select(col(idCol), col("j"), col("k"), l2sq("sv", "cw").as("dist"))
      .groupBy(idCol, "j")
      .agg(max_by(col("k"), struct((-col("dist")).as("nd"), (-col("k")).as("tie"))).as("code"))

  /** Asymmetric-distance (ADC) top-k: the query stays full-precision, the
    * corpus is ranked entirely from its PQ codes. The M×K inner-product
    * lookup table dot(q_j, codeword_{j,k}) is built once from the query and
    * broadcast; each vector's score is then Σ_j lut[j, code_j] — a
    * broadcast equi-join on (j, code) plus a partial-aggregable per-vector
    * sum (summed in fixed ascending-j order so the result is bit-identical
    * across partitionings and engines), then TakeOrdered. After encoding,
    * ranking never touches a float vector — the PQ promise.
    */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int = 10,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // r16: encode + ADC as kernels over the collected codebook/LUT (same
    // folds, spec-pinned) — scan → project → TakeOrdered, where the
    // replaced chain paid the n·M·K explode-join and three exchanges
    val (ks, cws) = collectCodebook(pqCodebook(emb, idCol, vecCol))
    val qe = queryVecOf(emb, idCol, vecCol, queryId)
    val ips = lutFor(qe, cws)
    emb.select(col(idCol),
        round(adcScoreCol(pqCodesCol(col(vecCol), ks, cws), ks, ips), 6).as("adc"))
      .orderBy(desc("adc"), asc(idCol))
      .limit(k)
  }

  /** IVF-PQ: the composed serving architecture — IVF's coarse inverted
    * lists choose WHERE to look (only the `nprobe` lists nearest the query
    * are touched), PQ's codes decide HOW candidates are ranked (ADC from
    * the broadcast lookup table, no float vectors). This is the standard
    * billion-scale ANN layout: at 100 TB the lists are a storage key
    * ([[stageIvfBucketed]]) and the in-list representation is the 32×
    * compressed codes, so a probe reads a few lists' worth of bytes and
    * ranks them from memory. Here composed over the same deterministic
    * stand-in centroids/codebook as the parts, so the whole path stays
    * oracle-checkable; PQ encoding runs on the probed candidates only
    * (work ∝ lists touched, same rows-out as encoding everything and
    * filtering).
    */
  def ivfPqTopK(emb: DataFrame, queryId: Long, k: Int = 10,
                centroidsNOpt: Option[Int] = None, nprobe: Int = 2,
                idCol: String = "vec_id", vecCol: String = "embedding",
                nOpt: Option[Long] = None,
                cbOpt: Option[DataFrame] = None): DataFrame = {
    val centroidsN = centroidsNOpt.getOrElse(centroidsFor(nOpt.getOrElse(emb.count())))
    val cent = standInCentroids(emb, centroidsN, idCol, vecCol)
    // residual encoding (r12 verdict item 2): rank by
    //   dot(q, v) ≈ dot(q, ce_cid) + Σ_j lut[j, code_j]
    // where the codes quantize v − ce_cid against the residual codebook —
    // the coarse term is exact per probed list, the ADC sum explains only
    // the within-list remainder the codebook is now free to specialize on.
    // r16: probe-list selection, LUT and coarse term come from the
    // driver-collected artifacts ([[nearestCidsFor]]/[[lutFor]]/[[qceFor]],
    // identical folds, spec-pinned) and the encode+score are kernels — the
    // query is residual projection → filter(2 lists) → project → TakeOrdered
    val resid = residuals(emb, cent, idCol, vecCol, centroidsN)
    val (cids, cvecs) = collectCent(cent)
    val qe = queryVecOf(emb, idCol, vecCol, queryId)
    val probeCids = nearestCidsFor(qe, cids, cvecs, nprobe)

    // the stand-in codebook's window starts past the PROBE's list count, so
    // an adaptive (above-floor) composition never picks zero-residual
    // centroid rows as codewords
    val cb = cbOpt.getOrElse(pqCodebookResidual(emb, cent, idCol, vecCol, centroidsN))
    val (ks, cws) = collectCodebook(cb)
    val ips = lutFor(qe, cws)
    val qce = qceFor(qe, cids, cvecs)
    val qceOf = element_at(
      map_from_arrays(
        typedlit(probeCids.sorted),
        typedlit(probeCids.sorted.map(qce))),
      col("cid"))
    resid.filter(col("cid").isin(probeCids: _*))
      .select(col(idCol),
        round(adcScoreCol(pqCodesCol(col("rv"), ks, cws), ks, ips) + qceOf, 6)
          .as("adc"))
      .orderBy(desc("adc"), asc(idCol))
      .limit(k)
  }

  /** Stage the composed IVF-PQ index durably: one row per vector holding
    * its inverted-list id (the STORAGE key) and its [[pqM]] PQ codes packed
    * in ascending-j order — [[ivfPqTopK]]'s layout made a table. A probe
    * opens only `nprobe` lists' buckets and ranks from the codes alone
    * ([[probeStagedIvfPq]]): list selection prunes I/O, PQ compression
    * (256 B → 8 codes) keeps what IS read memory-resident — the two levers
    * of billion-scale ANN, both now storage properties instead of per-query
    * recomputation.
    */
  def stageIvfPqBucketed(emb: DataFrame, cent: DataFrame, codebook: DataFrame,
                         table: String, buckets: Int = 8, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         centroidsN: Int = ivfCentroids): Unit =
    Bucketing.writeBucketed(
      ivfPqRows(emb, cent, codebook, idCol, vecCol, centroidsN),
      table, "cid", buckets)

  /** Append a new batch into a [[stageIvfPqBucketed]] index: assignment and
    * encoding run against the SAME bounded centroid/codebook artifacts the
    * index was staged with, over the batch only, then shuffle into the
    * existing `cid` buckets — per-ingest cost ∝ batch size, pruning
    * preserved. New-docs-only contract, like every staged append here.
    */
  def appendStagedIvfPq(batch: DataFrame, cent: DataFrame, codebook: DataFrame,
                        table: String, buckets: Int = 8, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        centroidsN: Int = ivfCentroids): Unit =
    Bucketing.appendBucketed(
      ivfPqRows(batch, cent, codebook, idCol, vecCol, centroidsN),
      table, "cid", buckets)

  /** Torn-append detection + repair for the ANN serving indexes — the
    * counterpart of [[TextIndex.recomputeStats]], shaped by a structural
    * difference: the lexical index is TWO tables (postings + stats ledger)
    * whose paired writes a crash can tear apart, and its recovery rebuilds
    * the sidecar from the postings alone. Each ANN arm is ONE bucketed
    * table with no sidecar, so there is no cross-table invariant to
    * recompute; the only state a crashed (or blindly retried) append can
    * leave is row-level — part of a batch committed and the rest missing,
    * or the whole batch present twice. That is a source↔index discrepancy,
    * so recovery reconciles against the corpus frame: ids absent from the
    * index are re-appended through the arm's own encode path (anti-join
    * first, so re-running after ANY failure converges — appending only
    * what is still missing), and duplicated ids are counted and reported.
    * Duplicates cannot be repaired in place (parquet appends can't delete;
    * a dup'd id would surface twice in a top-k) — a nonzero dup count
    * tells the caller to restage the arm, which costs one corpus pass.
    *
    * Returns (missing ids appended, duplicated ids found).
    */
  def reconcileStagedLsh(corpus: DataFrame, table: String, planes: Int = lshPlanes,
                         buckets: Int = 16, idCol: String = "vec_id",
                         vecCol: String = "embedding"): (Long, Long) = {
    val idx = Bucketing.read(corpus.sparkSession, table)
    val dups = idx.groupBy(idCol).count().filter(col("count") > 1).count()
    val missing = corpus.join(idx.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol))
    val nMissing = missing.count()
    if (nMissing > 0) appendStagedLsh(missing, table, planes, buckets, idCol, vecCol)
    (nMissing, dups)
  }

  /** [[reconcileStagedLsh]] for the IVF arm — assignment of re-appended
    * rows runs against the SAME centroid artifact the index was staged
    * with, exactly like [[appendStagedIvf]].
    */
  def reconcileStagedIvf(corpus: DataFrame, cent: DataFrame, table: String,
                         buckets: Int = 8, idCol: String = "vec_id",
                         vecCol: String = "embedding"): (Long, Long) = {
    val idx = Bucketing.read(corpus.sparkSession, table)
    val dups = idx.groupBy(idCol).count().filter(col("count") > 1).count()
    val missing = corpus.join(idx.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol))
    val nMissing = missing.count()
    if (nMissing > 0) appendStagedIvf(missing, cent, table, buckets, idCol, vecCol)
    (nMissing, dups)
  }

  /** [[reconcileStagedLsh]] for the IVF-PQ arm — re-encoding uses the same
    * centroid + codebook artifacts as [[appendStagedIvfPq]].
    */
  def reconcileStagedIvfPq(corpus: DataFrame, cent: DataFrame, codebook: DataFrame,
                           table: String, buckets: Int = 8, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           centroidsN: Int = ivfCentroids): (Long, Long) = {
    val idx = Bucketing.read(corpus.sparkSession, table)
    val dups = idx.groupBy(idCol).count().filter(col("count") > 1).count()
    val missing = corpus.join(idx.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol))
    val nMissing = missing.count()
    if (nMissing > 0)
      appendStagedIvfPq(missing, cent, codebook, table, buckets, idCol, vecCol,
        centroidsN)
    (nMissing, dups)
  }

  /** Driver-collected PQ codebook in (ascending j, ascending k) order — the
    * input shape of the [[graft.expressions.PqNearestCodes]] /
    * [[graft.expressions.PqAdcScore]] kernels. Bounded by construction
    * (M·K rows — the artifact the replaced plans broadcast); float
    * codewords widen to double exactly, like the mixed-type folds did
    * per element.
    */
  def collectCodebook(codebook: DataFrame): (Seq[Seq[Long]], Seq[Seq[Seq[Double]]]) = {
    val rows = codebook
      .select(col("j").cast("int"), col("k").cast("long"),
        col("cw").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    val m = rows.map(_._1).max + 1
    val byJ = rows.groupBy(_._1)
    val perJ = (0 until m).map(j => byJ(j).sortBy(_._2))
    (perJ.map(_.map(_._2).toSeq), perJ.map(_.map(_._3).toSeq))
  }

  /** Map-only per-subspace nearest-codeword encode (squared L2, ties to the
    * smaller k) — the kernel form of the explode → broadcast-join →
    * double-groupBy PQ encode chain, bit-identical by the kernel contract.
    */
  def pqCodesCol(rv: Column, ks: Seq[Seq[Long]],
                 cws: Seq[Seq[Seq[Double]]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.PqNearestCodes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(rv),
        ks, cws, pqSubDim))

  /** Map-only ADC fold Σ_j lut(j)(code_j) — the kernel form of the
    * posexplode → broadcast-join → collect_list-fold ADC chain.
    */
  def adcScoreCol(codes: Column, ks: Seq[Seq[Long]],
                  ips: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.PqAdcScore(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(codes),
        ks, ips))

  /** The query's ADC lookup table, computed on the driver from the collected
    * codebook: ip(j)(t) = Σ_i qv[j·subDim + i] · cw_t[i] — the identical
    * left-to-right double fold of the `zip_with`/`aggregate` LUT expression
    * it replaces (query elements widen float→double, codewords arrive
    * already widened by [[collectCodebook]]).
    */
  def lutFor(qe: Array[Float], cws: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    cws.zipWithIndex.map { case (cands, j) =>
      cands.map { cw =>
        var s = 0.0; var i = 0
        while (i < cw.length) {
          s += qe(j * pqSubDim + i).toDouble * cw(i); i += 1
        }
        s
      }
    }

  /** dot(q, centroid) for each collected centroid — [[FloatDotProduct]]'s
    * fold (common-prefix length, left-to-right, per-element float→double).
    */
  def qceFor(qe: Array[Float], ids: Seq[Long],
             vecs: Seq[Seq[Float]]): Map[Long, Double] =
    ids.zip(vecs).map { case (cid, ce) =>
      val n = math.min(qe.length, ce.length)
      var s = 0.0; var i = 0
      while (i < n) { s += qe(i).toDouble * ce(i).toDouble; i += 1 }
      cid -> s
    }.toMap

  /** The query's `nprobe` nearest centroid lists, computed on the driver
    * from the collected artifact: cosine with [[VectorOps.cosine]]'s exact
    * arithmetic (FloatDotProduct folds, sqrt, zero-norm → 0.0), ordered by
    * (cos DESC, cid ASC) under the same double total order Spark's
    * TakeOrdered applies — bit-identical to the crossJoin + orderBy +
    * limit(nprobe) selection it replaces (spec-pinned).
    */
  def nearestCidsFor(qe: Array[Float], ids: Seq[Long], vecs: Seq[Seq[Float]],
                     nprobe: Int): Seq[Long] = {
    var nq = 0.0
    var i = 0
    while (i < qe.length) { val x = qe(i).toDouble; nq += x * x; i += 1 }
    val sq = math.sqrt(nq)
    ids.zip(vecs).map { case (cid, ce) =>
      var nb = 0.0; var j = 0
      while (j < ce.length) { val x = ce(j).toDouble; nb += x * x; j += 1 }
      val sb = math.sqrt(nb)
      val cos =
        if (sq == 0.0 || sb == 0.0) 0.0
        else {
          val n = math.min(qe.length, ce.length)
          var s = 0.0; var t = 0
          while (t < n) { s += qe(t).toDouble * ce(t).toDouble; t += 1 }
          s / (sq * sb)
        }
      (cid, cos)
    }.sortWith { case ((c1, s1), (c2, s2)) =>
      val d = java.lang.Double.compare(s2, s1)
      if (d != 0) d < 0 else c1 < c2
    }.take(nprobe).map(_._1)
  }

  /** (id, cid, codes) rows for the staged IVF-PQ layout: broadcast-argmax
    * list assignment + PQ codes packed into an ascending-j array (the fixed
    * order [[probeStagedIvfPq]]'s ADC sum relies on).
    */
  private def ivfPqRows(emb: DataFrame, cent: DataFrame, codebook: DataFrame,
                        idCol: String, vecCol: String,
                        centroidsN: Int): DataFrame = {
    // `codebook` is the RESIDUAL codebook ([[pqCodebookResidual]], built on
    // the staged corpus and pinned across appends); the stored codes
    // quantize v − ce(cid), matching [[ivfPqTopK]]'s ranking decomposition.
    // r16: the encode is the [[pqCodesCol]] kernel over the collected
    // codebook — the residual row already carries (cid, rv), so the whole
    // stage is a projection; the replaced shape paid the n·M·K explode-join
    // plus two exchanges (per-(id, j) argmin, per-id pack) and a join-back.
    val (ks, cws) = collectCodebook(codebook)
    residuals(emb, cent, idCol, vecCol, centroidsN)
      .select(col(idCol), col("cid"), pqCodesCol(col("rv"), ks, cws).as("codes"))
  }

  /** Probe a [[stageIvfPqBucketed]] table: read only the `probeCids` lists
    * (bucket-pruned IN() on the storage key), then ADC-rank their members
    * from the stored codes against the query's broadcast M×K lookup table —
    * no float corpus vector is touched after staging. `emb` supplies only
    * the query row and the (bounded, deterministic) codebook.
    *
    * `tombTableOpt`: a [[deleteStagedIvf]]-shaped tombstone table to shadow
    * — both sides prune to the probed `cid` buckets and deleted rows
    * vanish from the ADC ranking the moment the tombstone lands, through
    * the same [[probedRows]] read as [[probeStagedIvf]] (r16: the IVF-PQ
    * code table takes deletion requests too — a GDPR erasure against it no
    * longer means a full restage).
    *
    * `centArtOpt` MUST be the PREFIX artifact (cid == corpus vec_id — the
    * stand-in convention every staged IVF-PQ table here uses): the
    * query-vector shortcut below reads the query row off the artifact when
    * its id appears there, which is only a row vector under that
    * convention (r17, ADVICE — a trained-style artifact, whose cid is a
    * list id, would silently serve a centroid as the query). Every
    * `probeCids` entry must come from the same artifact
    * ([[nearestCidsFor]]); a foreign cid fails loudly below instead of
    * throwing a blank NoSuchElementException on the driver.
    */
  def probeStagedIvfPq(spark: SparkSession, table: String, emb: DataFrame,
                       queryId: Long, probeCids: Seq[Long], k: Int = 10,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       centroidsN: Int = ivfCentroids,
                       tombTableOpt: Option[String] = None,
                       centArtOpt: Option[(Seq[Long], Seq[Seq[Float]])] = None,
                       cbArtOpt: Option[(Seq[Seq[Long]], Seq[Seq[Seq[Double]]])] = None)
      : DataFrame = {
    // same bounded artifacts the table was staged with: the prefix centroid
    // table (at the SAME list count the index was staged at) and the
    // residual codebook derived from it — `emb` supplies only the query row
    // and these model artifacts, never a corpus-sized read.
    // r16: the artifacts are driver-collected and the ranking is the
    // [[adcScoreCol]] kernel over a LUT computed with the identical folds
    // ([[lutFor]]/[[qceFor]]), so the probe plan is pruned scan
    // [→ broadcast anti-join] → project → TakeOrdered — the replaced shape
    // paid a posexplode (rows ×M), two broadcast joins and a groupBy
    // exchange per probe.
    val cent = standInCentroids(emb, centroidsN, idCol, vecCol)
    val (cids, cvecs) = centArtOpt.getOrElse(collectCent(cent))
    val (ks, cws) = cbArtOpt.getOrElse(
      collectCodebook(pqCodebookResidual(emb, cent, idCol, vecCol, centroidsN)))
    // the declared probes' query rows live inside the collected prefix;
    // fall back to the corpus scan only for foreign query ids
    val qe =
      if (cids.contains(queryId)) cvecs(cids.indexOf(queryId)).toArray
      else queryVecOf(emb, idCol, vecCol, queryId)
    val ips = lutFor(qe, cws)
    val qce = qceFor(qe, cids, cvecs)
    require(probeCids.forall(qce.contains),
      s"probe cids ${probeCids.filterNot(qce.contains).mkString(",")} are " +
        s"not in the centroid artifact (${cids.size} entries) — probe lists " +
        "must be selected from the artifact the table was staged with")
    val qceOf = element_at(
      map_from_arrays(
        typedlit(probeCids.sorted),
        typedlit(probeCids.sorted.map(qce))),
      col("cid"))
    probedRows(spark, table, "cid", probeCids, idCol, tombTableOpt)
      .select(col(idCol),
        round(adcScoreCol(col("codes"), ks, ips) + qceOf, 6).as("adc"))
      .orderBy(desc("adc"), asc(idCol))
      .limit(k)
  }

  /** Per-group mean-pooled centroid vectors — the embedding POOLING step
    * (doc embedding from chunk embeddings, class centroid from members,
    * cluster summary from assignments). One `posexplode` turns vectors into
    * (group, dim, x) rows; per-(group, dim) means ride EXACT DECIMAL sums
    * (the q44 moments pattern: order-independent, partial-aggregable,
    * engine-reproducible — no corpus-sized collect anywhere); the packed
    * centroid array reassembles in fixed dim order. Shuffle width is
    * groups × dims, never rows × dims.
    */
  def meanPoolCentroids(df: DataFrame, groupCol: String = "label",
                        vecCol: String = "embedding"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)))
      .toDF(groupCol, "pos", "x")
      .groupBy(groupCol, "pos")
      .agg((sum(col("x").cast("double").cast("decimal(27,12)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(groupCol)
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos AS pos, m AS m))), e -> e.m)")
        .as("centroid"))

  /** Per-DIMENSION corpus statistics of an embedding column — the feature-
    * normalization profile (mean, sd per dimension) a whitening/
    * standardization step trains on: one posexplode, exact-decimal moment
    * sums per dimension (the q44 pattern — partial-aggregable,
    * order-independent, engine-exact), closed forms at the end. Shuffle
    * width is `dims` rows of three numbers, whatever the corpus size.
    */
  def dimProfile(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.select(posexplode(col(vecCol))).toDF("pos", "xr")
      .select(col("pos"), col("xr").cast("double").as("x"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(27,12)")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double").as("sxx"))
      .select(col("pos"),
        round(col("sx") / col("n"), 6).as("mean"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
          .as("sd"))

  /** Standardize (whiten) vectors against a [[dimProfile]]: per dimension,
    * `(x − mean)/sd`. The profile is a bounded model artifact (dims rows),
    * collected once and embedded as literals — the transform itself is
    * scan-local, so normalization runs in-line in a 100 TB read stage.
    *
    * A constant dimension (sd exactly 0, or rounding to 0 at the profile's
    * 6-dp precision) emits 0.0 instead of dividing — it carries no signal,
    * and an unguarded divide would poison every downstream cosine with
    * Infinity/NaN components.
    *
    * The literal embedding bounds the profile width: 2·dims doubles go into
    * the plan, and past ~1k dims that balloons the expression tree and
    * codegen instead of failing anywhere visible. [[standardizeMaxDims]]
    * makes misuse loud — for wider profiles, posexplode the vectors and
    * broadcast-join the profile on `pos` instead of calling this.
    */
  val standardizeMaxDims = 1024

  def standardize(df: DataFrame, profile: DataFrame,
                  vecCol: String = "embedding"): DataFrame =
    standardizeWith(df, collectProfile(profile), vecCol)

  /** The profile as the bounded driver-side artifact [[standardizeWith]]
    * embeds: pos → (mean, sd). Split out (r15, ADVICE) so callers that
    * whiten repeatedly can cache the COLLECTED map per (session, dir) —
    * e.g. via `BackboneRegistry.scalarOrBuild` — instead of re-paying the
    * full-corpus profile aggregation on every query construction.
    */
  def collectProfile(profile: DataFrame): Map[Int, (Double, Double)] =
    profile.select("pos", "mean", "sd").collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  def standardizeWith(df: DataFrame, rows: Map[Int, (Double, Double)],
                      vecCol: String = "embedding"): DataFrame = {
    val dimsN = rows.size
    require(dimsN <= standardizeMaxDims,
      s"standardize embeds 2*$dimsN profile literals into the plan, past the " +
        s"$standardizeMaxDims-dim bound; for wide profiles posexplode the " +
        "vector column and broadcast-join the profile on pos instead")
    val means = typedlit((0 until dimsN).map(rows(_)._1))
    val sds = typedlit((0 until dimsN).map(rows(_)._2))
    df.withColumn(vecCol,
      zip_with(col(vecCol), sequence(lit(0), lit(dimsN - 1)),
        (x, i) => when(element_at(sds, i + 1) === 0.0, lit(0.0))
          .otherwise((x.cast("double") - element_at(means, i + 1)) /
            element_at(sds, i + 1))))
  }

  /** Cosine over ARRAY<DOUBLE> columns (pooled centroids) — same
    * left-to-right fold and zero-vector guard as [[VectorOps.cosine]] /
    * `SqlGen.cosSql`. r14: the dot rides the codegen'd
    * [[graft.expressions.ArrayDotProduct]] kernel (bit-equal to the HOF
    * fold it replaced, parity spec-pinned) — the whitened/silhouette
    * assignment scans were HOF-interpreted before, the second measured
    * wall of the decade rehearsal (SCALE_r14 §5).
    */
  def doubleCosine(a: String, b: String): Column = {
    // r17 (§4): same KnownNonNullElems re-declaration as [[l2sq]] — the
    // whitened/pooled vectors are zip_with products of non-null inputs, so
    // the assignment scans' dot folds compile branch-free.
    def dot(x: String, y: String) =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.ArrayDotProduct(
          graft.expressions.KnownNonNullElems(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(x))),
          graft.expressions.KnownNonNullElems(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(y)))))
    when(sqrt(dot(a, a)) === 0 || sqrt(dot(b, b)) === 0, lit(0.0))
      .otherwise(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))))
  }

  /** Random-projection dimensionality reduction: project each vector onto
    * `outDims` pseudo-random hyperplanes (the SAME fixed-LCG family as the
    * LSH codes, offset so the two never share planes) — the
    * Johnson-Lindenstrauss move that cuts embedding width before a
    * brute-force or IVF search pass. 64→16 dims is a 4× cut in bandwidth
    * and FLOPs for candidate scoring; like quantization it composes with
    * every downstream ANN operator because the output is just another
    * `ArrayType` embedding column. Deterministic, so oracle-exact.
    */
  def withRandomProjection(df: DataFrame, outDims: Int = 16,
                           vecCol: String = "embedding",
                           projCol: String = "rp"): DataFrame = {
    val comps = (0 until outDims).map { p =>
      // plane index offset by 4096 so RP planes never collide with LSH's
      expr(s"""CAST(aggregate(
        zip_with($vecCol, transform(sequence(0, ${dims - 1}), d -> ${planeComponent(4096 + p, "d")}),
                 (x, h) -> CAST(x AS DOUBLE) * h),
        CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS FLOAT)""")
    }
    df.withColumn(projCol, array(comps: _*))
  }

  /** DuckDB rendering of the same projection (kept adjacent, like
    * [[lshCodeSql]]).
    */
  def randomProjectionSql(vecCol: String, outDims: Int = 16): String =
    (0 until outDims).map { p =>
      s"""CAST(list_sum(list_transform(range(1, ${dims + 1}),
         | i -> CAST($vecCol[i] AS DOUBLE) * ${planeComponent(4096 + p, "(i-1)")})) AS FLOAT)"""
        .stripMargin.replaceAll("\n", "")
    }.mkString("[", ", ", "]")

  /** SemDeDup-style semantic near-dup pairs: candidates are scoped by IVF
    * CLUSTER membership (cosine-nearest centroid, the [[ivfTopK]] assignment)
    * instead of [[nearDupPairs]]'s LSH code-ball — the "cluster then compare
    * within cluster" shape of semantic-dedup pipelines, which catches
    * paraphrase-level duplicates whose codes differ in >1 bit. Pairwise work
    * is per-cluster: with [[centroidsFor]]-scaled cluster count the expected
    * list size stays ~constant as the corpus grows, so the self-join is an
    * equi-join on `cid` whose per-key fan-out is bounded by design (a skewed
    * cluster is the same lever as a hot band bucket — cap or re-train).
    * Output: (cid, v1, v2, cos_sim) with v1 < v2 and cos_sim ≥ threshold.
    */
  def semanticNearDupPairs(emb: DataFrame, threshold: Double,
                           centroidsNOpt: Option[Int] = None,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           nOpt: Option[Long] = None): DataFrame = {
    val centroidsN = centroidsNOpt.getOrElse(centroidsFor(nOpt.getOrElse(emb.count())))
    val cent = standInCentroids(emb, centroidsN, idCol, vecCol)
    val assigned = emb.crossJoin(broadcast(cent))
      .select(col(idCol), col("cid"), VectorOps.cosine(col(vecCol), col("ce")).as("ccos"))
      .groupBy(idCol)
      .agg(max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("tie"))).as("cid"))
    val tagged = emb.join(assigned, idCol)
      .withColumn("nrm", VectorOps.norm(col(vecCol)))
    val a = tagged.select(col("cid"), col(idCol).as("v1"), col(vecCol).as("e1"), col("nrm").as("n1"))
    val b = tagged.select(col("cid"), col(idCol).as("v2"), col(vecCol).as("e2"), col("nrm").as("n2"))
    a.join(b, "cid").filter(col("v1") < col("v2"))
      .select(col("cid"), col("v1"), col("v2"),
        round(when(col("n1") === 0 || col("n2") === 0, lit(0.0))
          .otherwise(VectorOps.dot(col("e1"), col("e2")) / (col("n1") * col("n2"))), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding near-duplicate pairs: codes within Hamming distance 1,
    * verified by exact cosine threshold.
    *
    * Plan shape is the 100 TB one: the left side expands each vector to its
    * p+1 probe codes (identity + p one-bit flips) and joins the right side's
    * exact code — a plain shuffle equi-join on the code key, never an O(n²)
    * cross join. A Hamming-1 pair matches on exactly one probe, so no
    * distinct pass is needed before the cosine verify.
    *
    * `planes` defaults to [[planesFor]] of the corpus size (one cheap
    * metadata count), so the join-key cardinality grows with the data instead
    * of freezing at a constant: expected candidates stay ~n·targetBucketRows
    * rather than Θ(n²/2^p). Codes + norms are recomputed on each branch —
    * both are cheap codegen'd scans; a `repartition` to force exchange reuse
    * would trade two parallel parquet scans for a full shuffle of the
    * vectors, a bad trade at any scale.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   planesOpt: Option[Int] = None,
                   nOpt: Option[Long] = None): DataFrame = {
    val planes = planesOpt.getOrElse(planesFor(nOpt.getOrElse(emb.count())))
    val coded = withLshCode(emb, vecCol, planes)
      .withColumn("nrm", VectorOps.norm(col(vecCol)))
    val probes = coded.select(col(idCol).as("d1"), col(vecCol).as("v1"), col("nrm").as("n1"),
      explode(array(col("lsh_code") +:
        (0 until planes).map(b => col("lsh_code").bitwiseXOR(1L << b)): _*)).as("probe"))
    val right = coded.select(col(idCol).as("d2"), col(vecCol).as("v2"), col("nrm").as("n2"),
      col("lsh_code").as("c2"))
    probes.join(right, col("probe") === col("c2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round(when(col("n1") === 0 || col("n2") === 0, lit(0.0))
          .otherwise(VectorOps.dot(col("v1"), col("v2")) / (col("n1") * col("n2"))), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
