package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Sampling

/** The end-to-end training-data curation pipeline, composed from the dedup
  * and text-analysis operators: exact-dedup (keep the smallest doc_id per
  * distinct text) → language filter (heuristic langId = 'en') → quality
  * floor → per-source accounting of what survived.
  *
  * This is the query a pipeline owner actually runs before a training dump:
  * every stage is one of the already-verified operators, so the composition
  * inherits their scale shapes (hash-groupBy dedup, codegen'd scalar text
  * metrics, partial-aggregated accounting — no window, no driver path).
  *
  * avg quality goes through DECIMAL like every money column (q05): double
  * summation order differs between engines/partitionings, decimal summation
  * is exact and order-independent.
  */
object CurationQueries {

  val qualityFloor = 0.5

  /** The surviving documents: exact-deduped (smallest doc_id per distinct
    * text, left-semi against the keeper set), English, above the quality
    * floor.
    */
  private def kept(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val keep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
      .filter(langId(col("text")) === "en" && qualityScore(col("text")) >= qualityFloor)
  }

  /** Tercile fractions for the perplexity bucketing — rendered into the
    * oracle from the same doubles the engine cuts at.
    */
  val pplTerciles: Seq[Double] = Seq(1.0 / 3, 2.0 / 3)

  /** `curate_ppl_buckets` — CCNet-style perplexity bucketing: score every
    * document with the corpus unigram LM (the `text_lm_score` arithmetic,
    * over ALL docs), cut the score distribution into exact terciles
    * (distributed selection, the q55 machinery — no global window), and
    * report each bucket's document count, token mass, score envelope, and
    * mean — bucket 0 = head (highest log-prob / lowest perplexity),
    * 2 = tail. This is the standard web-corpus triage (keep head, sample
    * middle, drop-or-audit tail) that decides token budgets per quality
    * tier before a training dump; composes with `mix_temperature` /
    * `curate_budget` as the mixture planner's input table.
    * Scale: token explode + two partial-aggregable groupBys + bounded
    * selection jobs; the per-doc sorted-fold log sum is the established
    * engine-exact LM contract.
    */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val toks = TextBackbone.unigrams(s, dir).select("doc_id", "w")
    val wc = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = wc.agg(sum("c").cast("double").as("tot"))
    val scored = toks.join(wc, "w").crossJoin(broadcast(tot))
      .select(col("doc_id"), log(col("c") / col("tot")).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("toks"),
        round(expr(
          "aggregate(array_sort(collect_list(lp)), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          / count(lit(1)), 6).as("lm_logp"))
      .localCheckpoint(true) // feeds both the selection jobs and the rollup
    val cuts = graft.operators.Quantiles.exactQuantiles(
      scored, "lm_logp", pplTerciles)
    scored
      .select(
        when(col("lm_logp") < cuts(0), 2)
          .when(col("lm_logp") < cuts(1), 1).otherwise(0).as("bucket"),
        col("toks"), col("lm_logp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("tokens"),
        round(min("lm_logp"), 6).as("lo"),
        round(max("lm_logp"), 6).as("hi"),
        round(sum(col("lm_logp").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_logp"))
      .orderBy("bucket")
  }

  /** Per-source accounting of what survived curation. */
  def curate(s: SparkSession, dir: String): DataFrame =
    kept(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("kept"),
        sum(tokenCount(col("text"))).as("tokens"),
        round(sum(qualityScore(col("text")).cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("avg_quality"))
      .orderBy("source")

  /** Per-source character budget for [[curateBudget]]. */
  val budgetChars = 60000L

  /** Token-budget selection: per source, greedily keep the highest-quality
    * docs until the [[budgetChars]] character budget is exhausted — how a
    * fixed-size training mix is actually filled from ranked candidates
    * ("take the best N tokens per source", not "take all docs above a
    * floor"). Selection order is total (quality desc, doc_id asc), the
    * budget check is a cumulative window sum of exact integer sizes, and
    * the per-source report carries what was spent and the quality bar the
    * budget implied.
    *
    * Scale: quality is computed in the scan stage; the only shuffle is the
    * per-source window partition (sources are few and balanced — at 100 TB
    * the same cumsum runs per (source, shard) with a budget per shard, or
    * via [[graft.operators.Quantiles]]-style threshold selection instead
    * of a full sort when partitions skew).
    */
  def curateBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(qualityScore(col("text")), 6).as("q"))
    val w = Window.partitionBy("source").orderBy(desc("q"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum", sum("n_chars").over(w))
      .filter(col("cum") <= budgetChars)
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum("n_chars").as("chars_used"),
        min("q").as("min_quality"),
        round(sum(col("q").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("avg_quality"))
      .orderBy("source")
  }

  /** The curated corpus itself, one row per kept doc — what a training dump
    * would materialize (id + provenance + token budget contribution).
    */
  def curatedDocs(s: SparkSession, dir: String): DataFrame =
    kept(s, dir)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("tokens"))
      .orderBy("doc_id")

  /** Mixture config for the declared sampling query: up-weight
    * even-numbered sources, down-weight odd — a stand-in for the usual
    * "web low, curated high" mixture table.
    */
  val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.9 else 0.3)).toMap

  /** Deterministic mixture sample over the corpus ([[Sampling.mixSample]]). */
  def mixSample(s: SparkSession, dir: String): DataFrame =
    Sampling.mixSample(Tables.documents(s, dir), mixRates)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Per-source KL/JS drift vs the corpus ([[Importance.klDrift]]) over the
    * DSIR hashed gram buckets — the information-theoretic companion to
    * `curate_drift`'s PSI: KL is the asymmetric "how surprised is the corpus
    * model by this source", JS its bounded symmetric form.
    */
  def curateKl(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.klDrift(Tables.spread(Tables.documents(s, dir)))
      .select(col("source"), col("kl"), col("js"))
      .orderBy("source")

  val curriculumPhases = 4

  /** Dedup-aware effective corpus size: each doc weighted 1/|its near-dup
    * cluster| (cluster-free docs weigh 1), rolled up per source — the
    * honest "how much UNIQUE data does this source really contribute"
    * number a mixture designer weighs sources by, instead of raw doc
    * counts that near-duplicates inflate. Weights are 12-decimal-quantized
    * BEFORE the exact-decimal sum, so the fold is order-proof in both
    * engines; cluster sizes come off the shared
    * [[DedupBackbone.components]] tier and the weight join is co-keyed on
    * doc_id.
    */
  def mixClusterWeight(s: SparkSession, dir: String): DataFrame = {
    val comp = DedupBackbone.components(s, dir)
    val sizes = comp.groupBy("group_id").agg(count(lit(1)).as("sz"))
    val wts = comp.join(sizes, "group_id")
      .select(col("doc_id"),
        round(lit(1.0) / col("sz"), 12).cast("decimal(18,12)").as("wt"))
    Tables.documents(s, dir).select("doc_id", "source")
      .join(wts, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("wt").isNotNull, 1L).otherwise(0L)).as("in_clusters"),
        round(sum(coalesce(col("wt"),
          lit(BigDecimal(1)).cast("decimal(18,12)"))).cast("double"), 6)
          .as("effective_docs"))
      .orderBy("source")
  }

  /** Curriculum phasing (`mix_curriculum`): order each source's docs from
    * easiest to hardest by mean unigram log-probability under the corpus LM
    * (the text_lm_score signal, corpus-wide) and cut into equal-depth
    * phases — the "train on easy data first, balanced per source" ordering
    * step. Per-SOURCE ntile windows (never a global sort); per-doc scores
    * are 6-rounded BEFORE the ordering so phase boundaries are
    * engine-deterministic; output is the bounded per-(source, phase)
    * summary. At 100 TB the same phase column comes from broadcast quantile
    * cuts (the q55 machinery) instead of ntile; the equal-depth semantics
    * here are the spec of that.
    */
  def mixCurriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val toks = TextBackbone.unigrams(s, dir).select("doc_id", "w")
    val wc = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = wc.agg(sum("c").cast("double").as("tot"))
    val scored = toks.join(wc, "w").crossJoin(broadcast(tot))
      .select(col("doc_id"), log(col("c") / col("tot")).as("lp"))
      .groupBy("doc_id")
      .agg(round(
        expr("aggregate(array_sort(collect_list(lp)), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          / count(lit(1)), 6).as("lm6"))
    scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("phase", ntile(curriculumPhases).over(
        Window.partitionBy("source").orderBy(desc("lm6"), asc("doc_id"))))
      .groupBy("source", "phase")
      .agg(count(lit(1)).as("n_docs"),
        max("lm6").as("easiest"), min("lm6").as("hardest"))
      .orderBy("source", "phase")
  }

  /** Temperature constants for the declared query — the oracle SQL is
    * generated from THESE (one source of truth).
    */
  val tempAlpha = 0.7
  val tempTargetFrac = 0.5

  /** Temperature-flattened sampling ([[Sampling.temperatureSample]]):
    * per-source rates ∝ n^0.7 normalized to keep ~half the corpus — the
    * standard "don't let the web crawl drown the small curated sources"
    * mixture step, with rates derived from the data instead of a config.
    */
  def mixTemperature(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(Tables.documents(s, dir), tempAlpha, tempTargetFrac)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Quality-WEIGHTED sampling ([[Sampling.weightedSample]]): each doc's
    * keep-probability is its own quality score (rounded to 6 decimals so
    * the weight is the identical double in both engines), so curation and
    * sampling fuse into one stateless scan-stage filter — the standard
    * "sample web text proportional to quality" mixture step.
    */
  def mixWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(Tables.documents(s, dir),
        round(qualityScore(col("text")), 6))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Epoch rates for the declared up-sampling query: even sources run 2.5
    * epochs (every doc twice, a hash-chosen half a third time), odd sources
    * half an epoch (the [[mixRates]]-style down-sample as the degenerate
    * case of the same operator).
    */
  val epochRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 2.5 else 0.5)).toMap

  /** Deterministic epoch materialization ([[Sampling.epochSample]]): one row
    * per (doc, epoch copy) under the per-source epoch prescription — the
    * step that turns "curated×3, web×0.5" mixture configs into an actual
    * training stream.
    */
  def mixEpochs(s: SparkSession, dir: String): DataFrame =
    Sampling.epochSample(Tables.documents(s, dir), epochRates)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")

  /** Split percentages for the declared split query — the oracle CASE is
    * generated from THESE constants (SqlGen rule: one source of truth).
    */
  val splitTestPct = 2
  val splitValPct = 10

  /** Per-(source, split) accounting of the deterministic train/val/test
    * split ([[Sampling.splitColumn]]) — the sanity view a pipeline owner
    * checks before a dump (are the eval slices the expected few percent,
    * uniformly across sources?).
    */
  def mixSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split", Sampling.splitColumn(testPct = splitTestPct, valPct = splitValPct))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("docs"))
      .orderBy("source", "split")

  val shardBudget = 2000L

  /** Chunk width for the declared packing query: 64 ids per chunk keeps the
    * two-level structure exercised at verify-scale corpora (hundreds of
    * docs ⇒ several chunks per source), standing in for the production-scale
    * default of 2^16. The cumulative sums — and so the oracle — are
    * chunkWidth-invariant.
    */
  val shardChunkWidth = 64L

  /** Token-budget shard assignment ([[Sampling.packShards]]). */
  def packShards(s: SparkSession, dir: String): DataFrame =
    Sampling.packShards(Tables.documents(s, dir), shardBudget,
        chunkWidth = shardChunkWidth)
      .orderBy("doc_id")

  /** Context-window length for the declared sequence-packing query: 512
    * tokens means typical ~60-token docs pack several per sequence while the
    * occasional long doc still splits across a boundary — both branches of
    * [[Sampling.packSequences]] exercised at verify scale.
    */
  val seqLen = 512L

  /** Fixed-length training-sequence layout ([[Sampling.packSequences]]):
    * one row per (doc, context-window) overlap with the doc-local token
    * range — the step that turns a curated corpus into model-ready
    * fixed-shape sequences.
    */
  def packSeqs(s: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(Tables.documents(s, dir), seqLen,
        chunkWidth = shardChunkWidth)
      .orderBy("doc_id", "seq")

  /** Docs selected by the declared DSIR query. */
  val dsirKeep = 50

  /** DSIR importance selection ([[graft.operators.Importance]]): top-
    * [[dsirKeep]] docs whose hashed-n-gram profile looks most like the
    * English-labeled target slice relative to the whole corpus — the
    * classifier-free "pull my domain out of the crawl" selector. The
    * log-ratio table is bounded by the bucket constant and broadcast; the
    * rest is one explode-scan plus partial-aggregable counts.
    */
  def mixDsir(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.dsirSelect(
      Tables.spread(Tables.documents(s, dir)), col("lang") === "en", dsirKeep)

  /** Docs kept per source by the exact-count sampler. */
  val reservoirPerSource = 10

  /** Exact-count stratified sampling: exactly [[reservoirPerSource]] docs
    * per source, uniform without replacement, chosen by ranking each
    * source's docs on a salted content-independent hash — the distributed
    * stand-in for per-stratum reservoir sampling. Unlike [[mixSample]]'s
    * rate-based filter (whose per-source yield is binomial), this guarantees
    * the exact per-stratum count a balanced eval set needs. The window
    * partitions by source, so at 100 TB each stratum ranks independently;
    * no global sort, and the kept set is deterministic under re-runs and
    * partitioning changes.
    */
  def mixReservoir(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit("#resv"))).as("h"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= reservoirPerSource)
      .select(col("source"), col("rn"), col("doc_id"))
      .orderBy("source", "rn")
  }

  /** Bin count for the drift profile. */
  val driftBins = 10

  /** Distribution drift per source: the population-stability index of each
    * source's doc-length distribution against the whole corpus —
    * `PSI = Σ_bins (p_src − p_all)·ln(p_src/p_all)` over [[driftBins]]
    * fixed-width bins with add-one smoothing (PSI ≥ 0, and 0 iff the
    * distributions agree; > ~0.2 is the classic "investigate" threshold).
    * The data-quality gate a pipeline runs when a new crawl snapshot lands.
    *
    * Scale shape: the (min, max) envelope is one broadcast row; bin counts
    * are FILTERED partial-aggregable counts (one per bin — the shuffle
    * carries [[driftBins]]+1 numbers per source, never rows); the corpus
    * row is a second broadcast; the PSI sum is a fixed-order expression
    * over the counts, so no float accumulation depends on row order and the
    * result hash-matches the oracle exactly.
    */
  def drift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"))
    val env = docs.agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
    val binned = docs.crossJoin(broadcast(env))
      .select(col("source"),
        least(floor((col("n_chars") - col("mn")) /
            ((col("mx") - col("mn") + 1) / lit(driftBins.toDouble))),
          lit(driftBins - 1)).cast("int").as("bin"))
    def binCounts(tag: String) =
      (0 until driftBins).map(i => count(when(col("bin") === i, 1)).as(s"$tag$i"))
    val bySrc = binned.groupBy("source")
      .agg(count(lit(1)).as("n_s"), binCounts("c"): _*)
    val global = binned.agg(count(lit(1)).as("n_g"), binCounts("g"): _*)
    def p(i: Int) = (col(s"c$i") + 1).cast("double") / (col("n_s") + driftBins)
    def q(i: Int) = (col(s"g$i") + 1).cast("double") / (col("n_g") + driftBins)
    val psi = (0 until driftBins).map(i => (p(i) - q(i)) * log(p(i) / q(i)))
      .reduce(_ + _)
    bySrc.crossJoin(broadcast(global))
      .select(col("source"), round(psi, 6).as("psi"))
      .orderBy("source")
  }

  /** The END-TO-END training-dump composition, oracled as ONE query:
    * curation (exact-dedup → language filter → quality floor, the
    * [[kept]] stage) → deterministic split assignment → train slice only →
    * fixed-length sequence packing ([[Sampling.packSequences]]) of the
    * survivors. This is the pipeline a user actually runs before a dump —
    * every stage is an already-verified operator, and composing them in one
    * declared query pins that the STAGES COMPOSE: the packer sees exactly
    * the curated train docs, offsets shift with every upstream drop, and the
    * whole chain still hash-matches the oracle. Scale shape is the union of
    * its parts: hash-groupBy dedup, scan-local filters, stateless split,
    * two-level packing windows — no new shuffle beyond what the stages
    * already pay.
    */
  def pipelineDump(s: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(
        kept(s, dir)
          .withColumn("split", Sampling.splitColumn(testPct = splitTestPct, valPct = splitValPct))
          .filter(col("split") === "train"),
        seqLen, chunkWidth = shardChunkWidth)
      .orderBy("doc_id", "seq")

  /** The text dump's DuckDB CTE chain (curate → split → train slice →
    * packed windows) ending in the `dump` CTE — `pipeline_dump` selects it
    * directly, `pipeline_mm_dump` joins the media columns onto it; one
    * text, so the composition-law oracle cannot drift from the text-only
    * dump's.
    */
  private def dumpSqlCtes: String =
    s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |cur AS (SELECT d.doc_id AS doc_id, source, text
       |        FROM documents d JOIN keep k ON k.doc_id = d.doc_id
       |        WHERE (${SqlGen.langIdSql}) = 'en' AND ${SqlGen.qualitySql} >= $qualityFloor),
       |tr AS (SELECT doc_id, source, text FROM cur
       |       WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#split'),1,15))::BIGINT % 100
       |             >= ${splitTestPct + splitValPct}),
       |c AS (SELECT doc_id, source, len(string_split(text,' ')) AS toks,
       |        sum(len(string_split(text,' '))) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM tr),
       |dump AS (SELECT doc_id, source, CAST(seq AS BIGINT) AS seq,
       | CAST(greatest(seq*$seqLen, cum - toks) - (cum - toks) AS BIGINT) AS tok_start,
       | CAST(least((seq+1)*$seqLen, cum) - (cum - toks) AS BIGINT) AS tok_end FROM
       | (SELECT doc_id, source, toks, cum,
       |   unnest(range(CAST((cum - toks) // $seqLen AS BIGINT), CAST(((cum - 1) // $seqLen) + 1 AS BIGINT))) AS seq
       |  FROM c) t)""".stripMargin

  /** `pipeline_mm_dump` — the MULTIMODAL training dump (r13 verdict item 3):
    * [[pipelineDump]]'s packed context windows with each curated doc's
    * media columns riding along — kind + payload checksum through the
    * decode layer ([[MultimodalQueries.mediaCatalog]]) and the embedding's
    * width + squared norm from the cross-modal link — i.e. what a real
    * dump ships so the trainer can route modalities and detect payload
    * drift without re-reading media bytes. Composition law (spec-pinned
    * AND oracled): the row set is EXACTLY `pipeline_dump ⋈ media catalog
    * ⟕ embeddings` — the media columns change no window, drop no doc, and
    * the curated∩train doc set is byte-identical to the text-only dump's.
    * Scale shape: the dump's own stages plus two keyed joins (catalog
    * derived scan-locally from the payload bytes; embeddings equi-joined
    * on id) — both partition-parallel, nothing new driver-side.
    */
  def pipelineMmDump(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("doc_id"),
        size(col("embedding")).as("emb_dim"),
        round(graft.functions.VectorOps.dot(col("embedding"), col("embedding")), 6)
          .as("emb_norm2"))
    pipelineDump(s, dir)
      .join(MultimodalQueries.mediaCatalog(s, dir), "doc_id")
      .join(emb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("seq"), col("tok_start"),
        col("tok_end"), col("kind"), col("checksum"), col("media_bytes"),
        col("emb_dim"), col("emb_norm2"))
      .orderBy("doc_id", "seq")
  }

  /** The TOKENIZER composition, oracled end to end as ONE query: vocabulary
    * construction (`text_vocab`) → token-id rewrite of every doc
    * (`text_token_ids`' operator over the full corpus) → fixed-length
    * packing of the ID STREAMS into [[seqLen]]-token context windows,
    * emitting each window's ACTUAL token-id payload (space-joined, the
    * engine-neutral serialization) — i.e. the real model-input tensor
    * layout, not just window geometry. Windows span doc boundaries; each
    * (doc, window) overlap contributes its id slice and the window
    * reassembles by stitching slices in doc order.
    *
    * Scale shape: the vocab is a bounded broadcast; the id rewrite is one
    * explode + broadcast join + per-doc collect; the running offsets ride
    * [[Sampling.withCumulative]]'s two-level chunked windows; the final
    * stitch groups by (source, window) — every shuffle is keyed and partial-
    * aggregable, and window payloads are bounded by [[seqLen]].
    */
  def pipelineTokens(s: SparkSession, dir: String): DataFrame = {
    val v = TextQueries.vocab(s, dir).select(col("token"), col("id"))
    val ids = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "source", "pos", "token")
      .filter(col("token") =!= "")
      .join(broadcast(v), Seq("token"), "left")
      .select(col("doc_id"), col("source"), col("pos"),
        coalesce(col("id"), lit(0)).as("tid"))
      .groupBy("doc_id", "source")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos AS pos, tid AS tid))), e -> e.tid)")
        .as("ids"))
      .withColumn("toks", size(col("ids")).cast("long"))
    val L = seqLen
    Sampling.withCumulative(ids, "doc_id", "source", shardChunkWidth)
      .withColumn("start", col("cum") - col("toks"))
      .withColumn("seq", explode(sequence(expr(s"start div $L"), expr(s"(cum - 1) div $L"))))
      .select(col("source"), col("seq"), col("doc_id"),
        expr(s"slice(ids, CAST(greatest(seq * $L, start) - start + 1 AS INT), " +
          s"CAST(least((seq + 1) * $L, cum) - greatest(seq * $L, start) AS INT))").as("part"))
      .groupBy("source", "seq")
      .agg(
        sum(size(col("part"))).cast("long").as("toks"),
        concat_ws(" ", flatten(expr(
          "transform(array_sort(collect_list(struct(doc_id AS d, part AS part))), e -> e.part)")))
          .as("ids"))
      .orderBy("source", "seq")
  }

  /** Materialize a curated dump the way a 100 TB job would: parquet
    * partitioned by provenance (`source`) so downstream mixture sampling
    * prunes partitions instead of scanning, with `maxRecordsPerFile` bounding
    * file sizes regardless of per-source skew (one hot source otherwise
    * yields one giant file per task).
    */
  def writeCorpus(docs: DataFrame, path: String,
                  maxRecordsPerFile: Long = 1000000L): Unit =
    docs.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy("source")
      .parquet(path)

  // -------------------------------------------------------------------
  // curate_classifier — distributed logistic-regression gate distillation
  // -------------------------------------------------------------------

  val clfLr = 4L
  val clfIters = 6

  /** Scale constants for the integer descent: features and probabilities
    * are carried at scale 9 (units of 1e-9), weights at scale 6.
    */
  private val E9 = 1000000000L
  private val E15 = 1000000000000000L
  private val E18 = 1000000000000000000L

  /** Half-up integer division for NON-NEGATIVE `a` and positive `b`:
    * `(2a + b) div (2b)`. Works on longs or DECIMAL(38,0) columns (Spark's
    * `div` is IntegralDivide → LongType); truncation-toward-zero equals
    * floor on non-negative operands in every engine, so the result is
    * engine-exact by construction.
    */
  private def divHalfUp(a: Column, b: Column): Column =
    call_function("div", a * 2 + b, b * 2)

  /** Feature/label frame for the classifier: y = the C57 Gopher gate's
    * verdict (same thresholds as `text_gopher`, re-expressed as EXACT
    * integer comparisons — `m >= 3 ⟺ S >= 3t` etc., so no division ever
    * happens), x = four cheap surface signals quantized to scale-9 integers
    * at the source: saturating stopword evidence `least(sw,4)/4` (exact
    * quarters), mean word length /10, punctuation ratio, duplicate-3-gram
    * fraction (each a half-up integer division of exact counts). Every
    * downstream consumer sees only longs — the whole descent is integer
    * arithmetic, bit-identical in any engine BY CONSTRUCTION (the r11
    * driver red row falsified the previous "IEEE doubles agree everywhere"
    * assumption; this is the PageRank/C83 micro-unit idiom instead).
    * Cached per (session, dir): training re-scans it 2× per iteration.
    */
  private[queries] def clfFeatures(s: SparkSession, dir: String): DataFrame = {
    def build = {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), wsTokens(col("text")).as("W"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("L"),
          tokenCountOf(col("W")).as("t"),
          aggregate(col("W"), lit(0L), (a, x) => a + length(x)).as("S"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long").as("pc"),
          stopwordHitsOf(col("W"), "en").as("sw"),
          distinctNgramCountOf(col("W")).as("d3"))
      val tot3 = col("t") - 2
      // integer-exact gate: t∈[10,300]; 3 ≤ S/t ≤ 10 (with m≡0 when the doc
      // is empty); punct/L ≤ 1/5; sw ≥ 2; (tot3-d3)/tot3 ≤ 1/2
      val pass = col("t") >= TextQueries.gMinToks && col("t") <= TextQueries.gMaxToks &&
        (col("L") > 0 && col("S") >= col("t") * 3) &&
        (col("L") === 0 || col("S") <= col("t") * 10) &&
        (col("L") === 0 || col("pc") * 5 <= col("L")) &&
        col("sw") >= TextQueries.gMinStops &&
        (tot3 <= 0 || (tot3 - col("d3")) * 2 <= tot3)
      d.select(
        when(pass, lit(1L)).otherwise(lit(0L)).as("y"),
        (least(col("sw"), lit(4L)) * 250000000L).as("x1"),
        when(col("L") === 0, lit(0L))
          .otherwise(divHalfUp(col("S") * 100000000L, col("t"))).as("x2"),
        when(col("L") === 0, lit(0L))
          .otherwise(divHalfUp(col("pc") * E9, col("L"))).as("x3"),
        when(col("t") < 3, lit(0L))
          .otherwise(divHalfUp((tot3 - col("d3")) * E9, tot3)).as("x4"),
        // held-out eval rides the corpus' standard deterministic split
        // (curate_eval); training maths never read this column
        Sampling.splitColumn(testPct = splitTestPct, valPct = splitValPct).as("split"))
    }
    BackboneRegistry.getOrBuild(s, s"clf:features:$dir")(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** z at scale 15 for driver-held scale-6 weights: `wb6·1e9 + Σ wj6·xj9`.
    * Pure long arithmetic — exact, hence association-free.
    */
  private def z15Of(w: Array[Long]): Column =
    Seq("x1", "x2", "x3", "x4").zipWithIndex
      .foldLeft(lit(w(0)) * E9: Column) {
        case (acc, (c, j)) => acc + lit(w(j + 1)) * col(c)
      }

  /** BigInt half-up division for the driver-side weight update (a ≥ 0,
    * b > 0) — the same rule [[divHalfUp]] applies column-side.
    */
  private def bigDivHalfUp(a: BigInt, b: BigInt): BigInt = (a * 2 + b) / (b * 2)

  /** The shared descent: [[clfIters]] class-balanced GD steps over `f`
    * (integer feature frame), returning the per-iteration trajectory
    * (scale-6 weights) and the final weights — `classifier` declares the
    * trajectory, `evalGate` applies the weights to the held-out slice.
    *
    * ONE scan per step (r17, guide §2.4): round k's accuracy is counted
    * over `z15Of(w_k)`, and round k+1's gradient scan evaluates that SAME
    * `z` (the pre-update weights of step k+1 ARE w_k) — so the accuracy
    * count rides the next gradient aggregation instead of paying its own
    * action, and only the final weights' accuracy needs a closing scan.
    * `needTrajectory = false` (evalGate, which reads only the final
    * weights) drops the accuracy column entirely: clfIters scans + the
    * class-count head, down from 2·clfIters+1 actions. Identical numbers
    * by construction — the fused count is the same expression over the
    * same frame.
    */
  private def descend(f: DataFrame, needTrajectory: Boolean = true):
      (Seq[(Int, Long, Long, Long, Long, Long, Long, Long)], Array[Long]) = {
    val dec = "decimal(38,0)"
    val head = f.agg(count(lit(1)).as("n"),
      count(when(col("y") === 1L, 1)).as("pos")).first()
    val (n, pos) = (head.getLong(0), head.getLong(1))
    require(pos > 0 && pos < n,
      s"classifier needs both classes, got $pos positives of $n")
    // class weights n/(2·pos), n/(2·neg) at scale 9
    val cwPos = bigDivHalfUp(BigInt(n) * E9, BigInt(2) * pos).toLong
    val cwNeg = bigDivHalfUp(BigInt(n) * E9, BigInt(2) * (n - pos)).toLong
    val xs = Seq("x1", "x2", "x3", "x4")
    val w = Array.fill(5)(0L)
    // per-step weight snapshots and accuracies, assembled into the
    // trajectory after the loop (accuracy of step k arrives with scan k+1)
    val snaps = Array.ofDim[Array[Long]](clfIters + 1)
    val accs = Array.fill(clfIters + 1)(0L)
    for (k <- 1 to clfIters) {
      val z = z15Of(w)
      val az = abs(z)
      val sgz = when(z < 0, lit(-1L)).otherwise(lit(1L))
      // p9 = 5e8 + sign(z)·round(|z15|·1e9 / (2(1e15+|z15|))) — the
      // numerator needs 128 bits, hence the DECIMAL(38,0) carrier
      val num = az.cast(dec) * E9
      val den = (az * 2 + 2 * E15).cast(dec)
      val p9 = lit(500000000L) + sgz * divHalfUp(num, den)
      val pd = p9 - col("y") * E9
      val sgd = when(pd < 0, lit(-1L)).otherwise(lit(1L))
      val cw = when(col("y") === 1L, lit(cwPos)).otherwise(lit(cwNeg))
      val a0 = cw.cast(dec) * abs(pd)
      val g0 = sgd * divHalfUp(a0, lit(E9).cast(dec))
      val gj = xs.map { c =>
        sgd * divHalfUp(a0 * col(c).cast(dec), lit(E18).cast(dec))
      }
      val accCol =
        if (needTrajectory) Seq(count(when((z > 0) === (col("y") === 1L), 1)).as("acc"))
        else Nil
      val gRow = f.agg(
        sum(g0.cast(dec)).as("g0"),
        gj.zip(xs).map { case (g, c) => sum(g.cast(dec)).as(s"g_$c") } ++ accCol: _*)
        .first()
      // scan k's z carries the PREVIOUS step's post-update weights
      if (needTrajectory && k > 1) accs(k - 1) = gRow.getLong(5)
      for (j <- 0 to 4) {
        val g = BigInt(gRow.getDecimal(j).toBigInteger)
        val d6 = g.signum * bigDivHalfUp(g.abs * clfLr, BigInt(n) * 1000)
        w(j) = (BigInt(w(j)) - d6).toLong
      }
      snaps(k) = w.clone()
    }
    if (needTrajectory)
      accs(clfIters) = f
        .agg(count(when((z15Of(w) > 0) === (col("y") === 1L), 1)))
        .first().getLong(0)
    val out = (1 to clfIters).map { k =>
      val s = snaps(k)
      (k, s(0), s(1), s(2), s(3), s(4), accs(k), n)
    }
    (out, w)
  }

  /** Scale-6 long weight → display double: both operands of the division
    * are exactly representable, so the single IEEE op is engine-exact.
    */
  private def w6ToDouble(c: Column): Column = c.cast("double") / lit(1000000.0)

  /** The full-corpus descent, computed once per (session, dir) — shared by
    * `curate_classifier` (declares the trajectory) and `curate_calibration`
    * (scores with the final weights), so the gate suite costs one training
    * run, not one per consumer.
    */
  private def descendFull(s: SparkSession, dir: String)
      : (Seq[(Int, Long, Long, Long, Long, Long, Long, Long)], Array[Long]) =
    BackboneRegistry.scalarOrBuild(s, s"clf:descend:$dir")(
      descend(clfFeatures(s, dir)))

  /** `curate_classifier` — train the cheap linear twin of the rule gate ON
    * the cluster: class-balanced batch gradient descent for logistic
    * regression (6 iterations, lr 4), distilling the conjunctive Gopher
    * gate into one dot product — the model-based quality filter every
    * large-scale pipeline ends up wanting, with the training loop itself
    * distributed (each iteration = one partial-aggregable gradient scan +
    * one accuracy scan over the cached feature frame; driver traffic is 5
    * weights per round).
    *
    * ENGINE-EXACT BY CONSTRUCTION (r12): every quantity in the descent is
    * a scaled integer — features at scale 9, weights at scale 6, the
    * rational sigmoid `p = 0.5 + z/(2(1+|z|))` evaluated as one half-up
    * integer division (through a 128-bit DECIMAL(38,0)/HUGEINT carrier
    * where the product exceeds 2⁶³), gradient contributions rounded
    * half-away at scale 9 via sign·divHalfUp, gradient SUMS exact integer
    * sums (order-free), and the weight update computed in BigInt on the
    * driver with the same half-away rule the oracle's CTE applies. There
    * is NO floating-point operation anywhere between the raw counts and
    * the final display cast, so any engine with exact 128-bit integer
    * arithmetic reproduces the trajectory bit-for-bit — an r11 oracle
    * mismatch proved cross-engine IEEE-double agreement is NOT a safe
    * assumption (`round(double, 9)` / FMA differences), so no double
    * survives in this chain. The one display step, `w6 → w6/1e6` as a
    * DOUBLE, is a single IEEE division of two exactly-representable
    * operands — correctly rounded, deterministic everywhere.
    *
    * Magnitude budget (spec-asserted): |x9| ≤ 5e9 (mwl/10 < 5), |w6| ≤ 1e8
    * ⇒ |z15| ≤ 5·1e8·5e9+1e17 < 9.2e18 (long); sigmoid numerator ≤ 5e26
    * and per-feature gradient product ≤ ~1e30 (128-bit); per-row g9 ≤ 5e12
    * and its sum over ≤1e6 rows ≤ 5e18 — summed as DECIMAL(38,0) anyway.
    */
  def classifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (trajectory, _) = descendFull(s, dir)
    trajectory
      .toDF("iter", "wb", "ws", "wm", "wp", "wr", "correct", "total")
      .select(col("iter"),
        w6ToDouble(col("wb")).as("w_bias"), w6ToDouble(col("ws")).as("w_stop"),
        w6ToDouble(col("wm")).as("w_mwl"), w6ToDouble(col("wp")).as("w_punct"),
        w6ToDouble(col("wr")).as("w_rep"), col("correct"), col("total"))
      .orderBy("iter")
  }

  /** `curate_calibration` — reliability diagram of the trained gate (C153's
    * final weights): every document scored with the SAME engine-exact
    * rational sigmoid the descent used (p at scale 9, one half-up 128-bit
    * division), binned into probability deciles, and each bin reports its
    * size, positive count, mean predicted probability, and empirical
    * positive rate — the mean_p-vs-emp_rate gap IS the calibration error a
    * model-based quality filter must publish before its scores are used as
    * sampling weights (DSIR-style pipelines consume the probability, not
    * the argmax, so an over-confident gate silently distorts the mixture).
    *
    * Engine-exact end to end: bin = p9 div 1e8 (floor on non-negatives),
    * bin means as half-up integer divisions at scale 9, display as single
    * IEEE divisions of exactly-representable operands. One
    * partial-aggregable pass over the cached feature frame; the descent
    * itself is shared via [[descendFull]].
    */
  def calibration(s: SparkSession, dir: String): DataFrame = {
    val (_, w) = descendFull(s, dir)
    val dec = "decimal(38,0)"
    val z = z15Of(w)
    val az = abs(z)
    val sgz = when(z < 0, lit(-1L)).otherwise(lit(1L))
    val p9 = lit(500000000L) +
      sgz * divHalfUp(az.cast(dec) * E9, (az * 2 + 2 * E15).cast(dec))
    clfFeatures(s, dir)
      .select(col("y"), p9.cast("long").as("p9"))
      .select(least(call_function("div", col("p9"), lit(100000000L)), lit(9L))
        .as("bin"), col("y"), col("p9"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("positives"),
        sum("p9").as("sp9"))
      .select(col("bin"), col("n"), col("positives"),
        (divHalfUp(col("sp9"), col("n")).cast("double") / lit(1e9)).as("mean_p"),
        (divHalfUp(col("positives") * E9, col("n")).cast("double") / lit(1e9))
          .as("emp_rate"))
      .orderBy("bin")
  }

  /** Eval share of the group split, percent. */
  val groupSplitTestPct = 10

  /** `mix_group_split` — LEAKAGE-FREE train/test split: the split key is
    * the near-dup CLUSTER (the C15 verified components), not the document,
    * so a near-duplicate can never straddle the boundary and contaminate
    * eval. Singletons key on their own id. The declared row carries the
    * audit that justifies the operator: `group_cross_pairs` (verified
    * near-dup pairs split apart — structurally 0 here) next to
    * `naive_cross_pairs` (what the doc-hash split WOULD have leaked — the
    * bug this prevents).
    *
    * Scale: rides the staged components + verified-pairs tiers (no chain
    * rebuild); the split itself is one stateless hash on the group id
    * (mix_split's salted-md5 idiom — engine-reproducible, stable as the
    * corpus grows); audits are two partial-aggregable pair scans.
    */
  def groupSplit(s: SparkSession, dir: String): DataFrame = {
    def side(c: org.apache.spark.sql.Column) =
      when(conv(substring(md5(concat(c.cast("string"), lit("#gsplit"))), 1, 15), 16, 10)
        .cast("long") % 100 < groupSplitTestPct, lit("test")).otherwise(lit("train"))
    val gid = Tables.documents(s, dir).select(col("doc_id"))
      .join(DedupBackbone.components(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("group_id"), col("doc_id")).as("gid"))
    val sided = gid.select(col("doc_id"), col("gid"), side(col("gid")).as("split"))
      .localCheckpoint(true)
    val pairs = DedupBackbone.verifiedJac(s, dir).select("d1", "d2")
    val naiveCross = pairs.filter(side(col("d1")) =!= side(col("d2"))).count()
    val groupCross = pairs
      .join(sided.select(col("doc_id").as("d1"), col("split").as("s1")), Seq("d1"))
      .join(sided.select(col("doc_id").as("d2"), col("split").as("s2")), Seq("d2"))
      .filter(col("s1") =!= col("s2")).count()
    sided.groupBy("split")
      .agg(count(lit(1)).as("docs"), countDistinct("gid").as("clusters"))
      .withColumn("naive_cross_pairs", lit(naiveCross))
      .withColumn("group_cross_pairs", lit(groupCross))
      .orderBy("split")
  }

  val kCenterK = 8

  /** `mix_kcenter` — greedy k-center (farthest-point) coreset selection
    * over the embedding corpus: seed with vec 0, then 7 rounds each taking
    * the point whose NEAREST selected neighbor is farthest (argmin of the
    * max round-6 cosine to the selected set) — the diversity-sampling move
    * for training-data selection (a 2-approximation of the k-center
    * optimum), picking the spanning skeleton where random sampling
    * oversamples dense clusters.
    *
    * Unlike the pool-bounded MMR greedy, every round here is a FULL-corpus
    * distributed argmin: the ≤ k selected rows broadcast onto the corpus
    * scan (the C142 bounded-query-batch shape), one partial-aggregable
    * max-cosine per candidate, one TakeOrdered-1 scalar to the driver.
    * Work per round ∝ corpus × |selected|; rounds are budgeted like
    * PageRank iterations.
    */
  def kcenter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val seed = emb.filter(col("vec_id") === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).head
    var selected = Vector(seed)
    val out = Seq.newBuilder[(Int, Long, Option[Double])]
    out += ((1, seed._1, None))
    for (k <- 2 to kCenterK) {
      val selDf = selected.toDF("sid", "sv")
      val win = emb
        .filter(!col("vec_id").isin(selected.map(_._1): _*))
        .crossJoin(broadcast(selDf))
        .groupBy(col("vec_id"))
        .agg(max(round(graft.functions.VectorOps.cosine(col("embedding"), col("sv")), 6))
          .as("mc"))
        .orderBy(asc("mc"), asc("vec_id"))
        .limit(1).collect().head
      val (id, mc) = (win.getLong(0), win.getDouble(1))
      val v = emb.filter(col("vec_id") === id)
        .collect().map(_.getSeq[Float](1)).head
      selected :+= ((id, v))
      out += ((k, id, Some(mc)))
    }
    out.result().toDF("rank", "vec_id", "max_cos").orderBy("rank")
  }

  /** k-center oracle: the selected set accumulates through one MATERIALIZED
    * CTE per round; each round cross-joins the corpus with it, aggregates
    * the max round-6 cosine per candidate, and takes the argmin — every
    * pick hash-compared like the MMR and classifier trajectories.
    */
  private def kcenterOracle: String = {
    def selUnion(k: Int) =
      (1 until k).map(j => s"SELECT vec_id, embedding FROM s$j").mkString(" UNION ALL ")
    def idUnion(k: Int) =
      (1 until k).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
    val rounds = (2 to kCenterK).map { k =>
      s"""s$k AS MATERIALIZED (SELECT e.vec_id, e.embedding, m.mc FROM (
         |    SELECT e.vec_id, max(round(${SqlGen.cosSql("e.embedding", "s.embedding")}, 6)) AS mc
         |    FROM e, (${selUnion(k)}) s
         |    WHERE e.vec_id NOT IN (${idUnion(k)})
         |    GROUP BY e.vec_id) m JOIN e ON e.vec_id = m.vec_id
         |  ORDER BY m.mc, e.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (s"SELECT 1 AS rank, vec_id, CAST(NULL AS DOUBLE) AS max_cos FROM s1" +:
      (2 to kCenterK).map(k => s"SELECT $k AS rank, vec_id, mc AS max_cos FROM s$k"))
      .mkString(" UNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |s1 AS MATERIALIZED (SELECT vec_id, embedding FROM e WHERE vec_id = 0),
       |$rounds
       |SELECT * FROM ($rows) ORDER BY rank""".stripMargin
  }

  /** `curate_eval` — the evaluation discipline around the trained gate: fit
    * the same descent on the TRAIN slice of the corpus' standard
    * deterministic split only, then report the held-out confusion matrix on
    * the TEST slice — the never-seen-in-training accuracy a gate model is
    * actually judged by (training accuracy flatters; C153 reports it, this
    * measures generalization). Same engine-exact arithmetic, so the
    * held-out cells hash-compare; one extra pass over the cached features.
    */
  def evalGate(s: SparkSession, dir: String): DataFrame = {
    val f = clfFeatures(s, dir)
    // needTrajectory = false: the gate reads only the final weights, so
    // the descent pays clfIters gradient scans and zero accuracy scans
    val (_, w) = descend(f.filter(col("split") =!= "test"),
      needTrajectory = false)
    f.filter(col("split") === "test")
      .select(when(col("y") === 1L, lit(1.0)).otherwise(lit(0.0)).as("label"),
        when(z15Of(w) > 0, lit(1.0)).otherwise(lit(0.0)).as("predicted"))
      .groupBy("label", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("label", "predicted")
  }

  /** The classifier oracle unrolls the training loop like the PageRank and
    * EWMA oracles unroll theirs: per iteration one MATERIALIZED gradient
    * CTE, one scalar weight-update CTE, one accuracy CTE — and one result
    * row, so every step of the descent is hash-compared. All arithmetic is
    * scaled-integer (BIGINT with HUGEINT carriers where a product exceeds
    * 2⁶³ — DuckDB's 128-bit twin of the Spark side's DECIMAL(38,0)), and
    * the half-up divisions `(2a+b)//(2b)` run on non-negative operands
    * only, where truncation ≡ floor in every engine. The chain is shared
    * with the eval oracle, which trains on `ft` (the non-test slice) and
    * reads the test slice.
    */
  private def classifierChain(trainWhere: String): String = {
    val hits = {
      val set = graft.functions.TextFunctions.stopwords("en")
        .map(x => s"'$x'").mkString(", ")
      s"len(list_filter(W, t -> t IN ($set)))"
    }
    val g3 = "list_transform(range(1, len(W)-1), i -> W[i]||' '||W[i+1]||' '||W[i+2])"
    import TextQueries._
    // integer-exact gate over exact counts: m ≥ 3 ⟺ S ≥ 3t (L>0), m ≤ 10 ⟺
    // S ≤ 10t, p ≤ 1/5 ⟺ 5·pc ≤ L, r ≤ 1/2 ⟺ 2(tot3−d3) ≤ tot3
    val gate = s"t >= $gMinToks AND t <= $gMaxToks AND (L > 0 AND S >= 3*t)" +
      " AND (L = 0 OR S <= 10*t) AND (L = 0 OR pc*5 <= L)" +
      s" AND sw >= $gMinStops AND (t < 3 OR (t-2-d3)*2 <= t-2)"
    val z15 = "wb*1000000000 + ws*x1 + wm*x2 + wp*x3 + wr*x4"
    val nV = "(SELECT n FROM nn)"
    val iters = (1 to clfIters).map { k =>
      s"""g$k AS MATERIALIZED (SELECT
         |    sum(sgd * ((a0*2 + 1000000000) // 2000000000)) AS g0,
         |    sum(sgd * ((a0*x1*2 + 1000000000000000000) // 2000000000000000000)) AS gx1,
         |    sum(sgd * ((a0*x2*2 + 1000000000000000000) // 2000000000000000000)) AS gx2,
         |    sum(sgd * ((a0*x3*2 + 1000000000000000000) // 2000000000000000000)) AS gx3,
         |    sum(sgd * ((a0*x4*2 + 1000000000000000000) // 2000000000000000000)) AS gx4
         |  FROM (SELECT x1, x2, x3, x4,
         |      CASE WHEN pd < 0 THEN -1 ELSE 1 END AS sgd,
         |      CAST(CASE WHEN y = 1 THEN cp ELSE cn END AS HUGEINT) * abs(pd) AS a0
         |    FROM (SELECT zf.*,
         |        500000000 + (CASE WHEN z < 0 THEN -1 ELSE 1 END) *
         |          CAST((CAST(abs(z) AS HUGEINT)*1000000000*2 + (abs(z)*2 + 2000000000000000))
         |            // (CAST(abs(z)*2 + 2000000000000000 AS HUGEINT)*2) AS BIGINT)
         |          - y*1000000000 AS pd
         |      FROM (SELECT ft.*, cp, cn, $z15 AS z
         |            FROM ft CROSS JOIN w${k - 1} CROSS JOIN cw) zf) pf) bf),
         |w$k AS (SELECT
         |    wb - (CASE WHEN g0 < 0 THEN -1 ELSE 1 END) * CAST((abs(g0)*$clfLr*2 + 1000*$nV) // (2000*$nV) AS BIGINT) AS wb,
         |    ws - (CASE WHEN gx1 < 0 THEN -1 ELSE 1 END) * CAST((abs(gx1)*$clfLr*2 + 1000*$nV) // (2000*$nV) AS BIGINT) AS ws,
         |    wm - (CASE WHEN gx2 < 0 THEN -1 ELSE 1 END) * CAST((abs(gx2)*$clfLr*2 + 1000*$nV) // (2000*$nV) AS BIGINT) AS wm,
         |    wp - (CASE WHEN gx3 < 0 THEN -1 ELSE 1 END) * CAST((abs(gx3)*$clfLr*2 + 1000*$nV) // (2000*$nV) AS BIGINT) AS wp,
         |    wr - (CASE WHEN gx4 < 0 THEN -1 ELSE 1 END) * CAST((abs(gx4)*$clfLr*2 + 1000*$nV) // (2000*$nV) AS BIGINT) AS wr
         |  FROM w${k - 1} CROSS JOIN g$k),
         |a$k AS (SELECT count(CASE WHEN (z > 0) = (y = 1) THEN 1 END) AS correct
         |  FROM (SELECT ft.y, $z15 AS z FROM ft CROSS JOIN w$k) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT doc_id, text, string_split(text,' ') AS W FROM documents),
       |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS L, len(W) AS t,
       |    CAST(list_sum(list_transform(W, x -> length(x))) AS BIGINT) AS S,
       |    CAST(length(text) - length(regexp_replace(text,'[.,;:!?]','','g')) AS BIGINT) AS pc,
       |    $hits AS sw, len(list_distinct($g3)) AS d3 FROM b),
       |f AS MATERIALIZED (SELECT
       |    CAST(CASE WHEN $gate THEN 1 ELSE 0 END AS BIGINT) AS y,
       |    CAST(least(sw, 4)*250000000 AS BIGINT) AS x1,
       |    CAST(CASE WHEN L = 0 THEN 0 ELSE (S*100000000*2 + t) // (t*2) END AS BIGINT) AS x2,
       |    CAST(CASE WHEN L = 0 THEN 0 ELSE (pc*1000000000*2 + L) // (L*2) END AS BIGINT) AS x3,
       |    CAST(CASE WHEN t < 3 THEN 0 ELSE ((t-2-d3)*1000000000*2 + (t-2)) // ((t-2)*2) END AS BIGINT) AS x4,
       |    (CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#split'),1,15))::BIGINT % 100 < $splitTestPct THEN 'test'
       |      WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#split'),1,15))::BIGINT % 100 < ${splitTestPct + splitValPct} THEN 'val'
       |      ELSE 'train' END) AS split FROM d),
       |ft AS MATERIALIZED (SELECT * FROM f WHERE $trainWhere),
       |nn AS (SELECT count(*) AS n,
       |    count(CASE WHEN y = 1 THEN 1 END) AS pos FROM ft),
       |cw AS (SELECT CAST((n*1000000000*2 + 2*pos) // (4*pos) AS BIGINT) AS cp,
       |    CAST((n*1000000000*2 + 2*(n-pos)) // (4*(n-pos)) AS BIGINT) AS cn FROM nn),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS ws,
       |    CAST(0 AS BIGINT) AS wm, CAST(0 AS BIGINT) AS wp, CAST(0 AS BIGINT) AS wr),
       |$iters""".stripMargin
  }

  private def classifierRows: String =
    (1 to clfIters).map { k =>
      s"""SELECT $k AS iter,
         |  CAST(wb AS DOUBLE)/1000000.0 AS w_bias, CAST(ws AS DOUBLE)/1000000.0 AS w_stop,
         |  CAST(wm AS DOUBLE)/1000000.0 AS w_mwl, CAST(wp AS DOUBLE)/1000000.0 AS w_punct,
         |  CAST(wr AS DOUBLE)/1000000.0 AS w_rep,
         |  (SELECT correct FROM a$k) AS correct, (SELECT n FROM nn) AS total
         |FROM w$k""".stripMargin
    }.mkString(" UNION ALL\n")

  private def classifierOracle: String =
    s"""${classifierChain("1 = 1")}
       |SELECT * FROM (${classifierRows}) ORDER BY iter""".stripMargin

  /** The calibration oracle rides the full-corpus chain (ft = f) and scores
    * every row with w6's rational sigmoid — the identical HUGEINT half-up
    * division the g-CTEs use — then folds the decile bins with the same
    * half-up scale-9 means as the Spark side.
    */
  private def calibrationOracle: String =
    s"""${classifierChain("1 = 1")},
       |sc AS (SELECT y,
       |    500000000 + (CASE WHEN z < 0 THEN -1 ELSE 1 END) *
       |      CAST((CAST(abs(z) AS HUGEINT)*1000000000*2 + (abs(z)*2 + 2000000000000000))
       |        // (CAST(abs(z)*2 + 2000000000000000 AS HUGEINT)*2) AS BIGINT) AS p9
       |  FROM (SELECT ft.y, wb*1000000000 + ws*x1 + wm*x2 + wp*x3 + wr*x4 AS z
       |        FROM ft CROSS JOIN w$clfIters) t)
       |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS positives,
       |  CAST((sum(p9)*2 + count(*)) // (count(*)*2) AS DOUBLE)/1000000000.0 AS mean_p,
       |  CAST((sum(y)*1000000000*2 + count(*)) // (count(*)*2) AS DOUBLE)/1000000000.0 AS emp_rate
       |FROM (SELECT least(p9 // 100000000, 9) AS bin, y, p9 FROM sc) b
       |GROUP BY bin ORDER BY bin""".stripMargin

  private def evalOracle: String =
    s"""${classifierChain("split <> 'test'")}
       |SELECT CAST(y AS DOUBLE) AS label,
       |  CAST(CASE WHEN z > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS predicted,
       |  count(*) AS n
       |FROM (SELECT f.y, wb*1000000000 + ws*x1 + wm*x2 + wp*x3 + wr*x4 AS z
       |      FROM f CROSS JOIN w$clfIters WHERE f.split = 'test') t
       |GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin

  val oracle: Map[String, String] = {
    val toksSql = SqlGen.toksSql
    val qualSql = SqlGen.qualitySql
    Map(
      "curate_ppl_buckets" ->
        s"""${SqlGen.lmPrefix},
           |sc AS (SELECT doc_id, count(*) AS toks,
           |        round(list_sum(list_sort(list(ln(c/tot))))/count(*), 6) AS lm_logp
           |       FROM tk JOIN wc USING (w), tot GROUP BY doc_id),
           |cuts AS (SELECT quantile_cont(lm_logp, ${pplTerciles(0)}) AS c1,
           |                quantile_cont(lm_logp, ${pplTerciles(1)}) AS c2 FROM sc)
           |SELECT CASE WHEN lm_logp < c1 THEN 2 WHEN lm_logp < c2 THEN 1 ELSE 0 END AS bucket,
           |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens,
           |  round(min(lm_logp), 6) AS lo, round(max(lm_logp), 6) AS hi,
           |  round(CAST(sum(CAST(lm_logp AS DECIMAL(18,6))) AS DOUBLE)/count(*), 6) AS mean_logp
           |FROM sc, cuts GROUP BY bucket ORDER BY bucket""".stripMargin,
      "curate_classifier" -> classifierOracle,
      "curate_eval" -> evalOracle,
      "curate_calibration" -> calibrationOracle,
      "mix_kcenter" -> kcenterOracle,
      "curate_corpus" ->
        s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
           |SELECT source, count(*) AS kept,
           |       CAST(sum($toksSql) AS BIGINT) AS tokens,
           |       round(CAST(sum(CAST($qualSql AS DECIMAL(18,9))) AS DOUBLE)/count(*), 6) AS avg_quality
           |FROM documents d JOIN keep k ON k.doc_id = d.doc_id
           |WHERE (${SqlGen.langIdSql}) = 'en' AND $qualSql >= $qualityFloor
           |GROUP BY source ORDER BY source""".stripMargin,
      "curate_budget" ->
        s"""WITH sc AS (SELECT doc_id, source, n_chars, round($qualSql, 6) AS q
           |    FROM documents),
           |c AS (SELECT *, CAST(sum(n_chars) OVER (PARTITION BY source
           |    ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM sc)
           |SELECT source, count(*) AS n_selected,
           |  CAST(sum(n_chars) AS BIGINT) AS chars_used,
           |  min(q) AS min_quality,
           |  round(CAST(sum(CAST(q AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS avg_quality
           |FROM c WHERE cum <= $budgetChars
           |GROUP BY source ORDER BY source""".stripMargin,
      "curate_docs" ->
        s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
           |SELECT d.doc_id, source, CAST($toksSql AS BIGINT) AS tokens
           |FROM documents d JOIN keep k ON k.doc_id = d.doc_id
           |WHERE (${SqlGen.langIdSql}) = 'en' AND $qualSql >= $qualityFloor
           |ORDER BY d.doc_id""".stripMargin,
      "mix_sample" -> {
        val rateCase = mixRates.toSeq.sorted
          .map { case (s, r) => s"WHEN '$s' THEN $r" }.mkString(" ")
        s"""SELECT doc_id, source FROM documents
           | WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#mix'),1,15))::BIGINT
           |  < CAST(trunc((CASE source $rateCase ELSE 0.0 END) * ${Sampling.hashSpace}) AS BIGINT)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
      },
      // Shared LM CTEs + the same rounded-score-then-ntile construction.
      "mix_curriculum" ->
        s"""${SqlGen.lmPrefix},
           |scored AS (SELECT doc_id,
           |    round(list_sum(list_sort(list(ln(c/tot))))/count(*), 6) AS lm6
           |  FROM tk JOIN wc USING (w), tot GROUP BY doc_id),
           |p AS (SELECT d.source, s.lm6,
           |    ntile($curriculumPhases) OVER (PARTITION BY d.source
           |      ORDER BY s.lm6 DESC, s.doc_id) AS phase
           |  FROM scored s JOIN documents d USING (doc_id))
           |SELECT source, phase, count(*) AS n_docs,
           |  max(lm6) AS easiest, min(lm6) AS hardest
           |FROM p GROUP BY source, phase ORDER BY source, phase""".stripMargin,
      // Same hashed-gram bucket family as mix_dsir; smoothed probabilities
      // and the sorted-fold double sums mirror Importance.klDrift term for
      // term (zero-count buckets completed by the range cross join).
      "curate_kl" -> {
        val bk = graft.operators.Importance.defaultBuckets
        s"""WITH wl AS (SELECT doc_id, source, list_filter(string_split(lower(text),' '), t -> t <> '') AS w FROM documents),
           |g AS (SELECT doc_id, source, unnest(w || list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram FROM wl),
           |gb AS (SELECT source, ('0x'||substr(md5(gram),1,15))::BIGINT % $bk AS b FROM g),
           |sc AS (SELECT source, b, count(*) AS c FROM gb GROUP BY source, b),
           |qb AS (SELECT b, sum(c) AS q FROM sc GROUP BY b),
           |ns AS (SELECT source, sum(c) AS n FROM sc GROUP BY source),
           |tot AS (SELECT CAST(sum(q) AS DOUBLE) AS nn FROM qb),
           |grid AS (SELECT ns.source, ns.n, r.range AS b FROM ns CROSS JOIN range(0, $bk) r),
           |terms AS (SELECT gr.source,
           |    (COALESCE(sc.c, 0) + 1) / (gr.n + $bk) AS ps,
           |    (COALESCE(qb.q, 0) + 1) / (t.nn + $bk) AS pc
           |  FROM grid gr
           |  LEFT JOIN sc ON sc.source = gr.source AND sc.b = gr.b
           |  LEFT JOIN qb ON qb.b = gr.b
           |  CROSS JOIN tot t)
           |SELECT source,
           |  round(list_sum(list_sort(list(ps*ln(ps/pc)))), 6) AS kl,
           |  round(list_sum(list_sort(list(0.5*(ps*ln(ps/((ps+pc)/2)) + pc*ln(pc/((ps+pc)/2)))))), 6) AS js
           |FROM terms GROUP BY source ORDER BY source""".stripMargin
      },
      // Rates recomputed from source counts with the exact-decimal
      // denominator and 6-rounded weights of Sampling.temperatureSample.
      "mix_temperature" ->
        s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
           |t AS (SELECT sum(CAST(round(pow(n, $tempAlpha), 6) AS DECIMAL(28,6))) AS wsum,
           |        sum(n) AS ntot FROM c),
           |r AS (SELECT c.source,
           |        least(CAST(1.0 AS DOUBLE),
           |          round($tempTargetFrac * (round(pow(c.n, $tempAlpha), 6)
           |            / CAST(t.wsum AS DOUBLE)) * t.ntot / c.n, 6)) AS rate
           |      FROM c, t)
           |SELECT d.doc_id, d.source FROM documents d JOIN r ON r.source = d.source
           |WHERE ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#temp'),1,15))::BIGINT
           |  < CAST(trunc(r.rate * ${Sampling.hashSpace}) AS BIGINT)
           |ORDER BY doc_id""".stripMargin,
      "mix_weighted" ->
        s"""SELECT doc_id, source FROM documents
           | WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#wmix'),1,15))::BIGINT
           |  < CAST(trunc(round($qualSql, 6) * ${Sampling.hashSpace}) AS BIGINT)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", ""),
      "mix_dsir" -> {
        val bk = graft.operators.Importance.defaultBuckets
        s"""WITH wl AS (SELECT doc_id, lang, list_filter(string_split(lower(text),' '), t -> t <> '') AS w FROM documents),
           |g AS (SELECT doc_id, lang, unnest(w || list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram FROM wl),
           |gb AS (SELECT doc_id, lang, ('0x'||substr(md5(gram),1,15))::BIGINT % $bk AS b FROM g),
           |feat AS (SELECT doc_id, b, count(*) AS c FROM gb GROUP BY doc_id, b),
           |qc AS (SELECT b, count(*) AS qc FROM gb GROUP BY b),
           |tc AS (SELECT b, count(*) AS tc FROM gb WHERE lang = 'en' GROUP BY b),
           |tot AS (SELECT CAST(count(*) AS DOUBLE) AS qt, CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE) AS tt FROM gb),
           |lr AS (SELECT b, ln((COALESCE(tc, 0) + 1) / (tt + $bk)) - ln((qc + 1) / (qt + $bk)) AS lr FROM qc LEFT JOIN tc USING (b), tot),
           |wts AS (SELECT doc_id, round(list_sum(list_sort(list(c * lr))), 6) AS dsir_w FROM feat JOIN lr USING (b) GROUP BY doc_id)
           |SELECT doc_id, dsir_w FROM wts ORDER BY dsir_w DESC, doc_id LIMIT $dsirKeep""".stripMargin
      },
      "mix_split" ->
        s"""SELECT source,
           | CASE WHEN u < $splitTestPct THEN 'test' WHEN u < ${splitTestPct + splitValPct} THEN 'val' ELSE 'train' END AS split,
           | count(*) AS docs FROM
           | (SELECT source,
           |   ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#split'),1,15))::BIGINT % 100 AS u
           |  FROM documents) t
           | GROUP BY 1, 2 ORDER BY source, split""".stripMargin.replaceAll("\n", ""),
      "mix_reservoir" ->
        s"""SELECT source, rn, doc_id FROM
           | (SELECT source, doc_id,
           |   CAST(row_number() OVER (PARTITION BY source
           |     ORDER BY md5(CAST(doc_id AS VARCHAR)||'#resv'), doc_id) AS INTEGER) AS rn
           |  FROM documents) t
           | WHERE rn <= $reservoirPerSource ORDER BY source, rn""".stripMargin.replaceAll("\n", ""),
      "curate_drift" -> {
        val binSql = s"CAST(least(floor((n_chars - mn)/(CAST(mx - mn + 1 AS DOUBLE)/$driftBins.0)), ${driftBins - 1}) AS INTEGER)"
        def cnt(tag: String) = (0 until driftBins)
          .map(i => s"count(CASE WHEN bin = $i THEN 1 END) AS $tag$i").mkString(", ")
        def p(i: Int) = s"(CAST(c$i + 1 AS DOUBLE)/(n_s + $driftBins))"
        def q(i: Int) = s"(CAST(g$i + 1 AS DOUBLE)/(n_g + $driftBins))"
        val terms = (0 until driftBins)
          .map(i => s"(${p(i)} - ${q(i)}) * ln(${p(i)}/${q(i)})").mkString(" + ")
        s"""WITH env AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
           |b AS (SELECT source, $binSql AS bin FROM documents, env),
           |sb AS (SELECT source, count(*) AS n_s, ${cnt("c")} FROM b GROUP BY source),
           |gb AS (SELECT count(*) AS n_g, ${cnt("g")} FROM b)
           |SELECT source, round($terms, 6) AS psi FROM sb, gb ORDER BY source""".stripMargin
      },
      "pack_shards" ->
        s"""SELECT doc_id, source, CAST(toks AS BIGINT) AS toks,
           | CAST((cum - toks) // $shardBudget AS BIGINT) AS shard FROM
           | (SELECT doc_id, source, len(string_split(text,' ')) AS toks,
           |   sum(len(string_split(text,' '))) OVER (PARTITION BY source ORDER BY doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM documents) t
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", ""),
      "mix_epochs" -> {
        val rateCase = epochRates.toSeq.sorted
          .map { case (s, r) => s"WHEN '$s' THEN $r" }.mkString(" ")
        s"""SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM
           | (SELECT doc_id, source, unnest(range(1, CAST(n + 1 AS BIGINT))) AS epoch FROM
           |  (SELECT doc_id, source,
           |    CAST(floor(r) AS BIGINT) +
           |    (CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#epoch'),1,15))::BIGINT
           |       < CAST(trunc((r - floor(r)) * ${Sampling.hashSpace}) AS BIGINT) THEN 1 ELSE 0 END) AS n
           |   FROM (SELECT doc_id, source, (CASE source $rateCase ELSE 1.0 END) AS r
           |         FROM documents) t0) t1
           |  WHERE n >= 1) t2
           | ORDER BY doc_id, epoch""".stripMargin.replaceAll("\n", "")
      },
      "pipeline_dump" ->
        s"""$dumpSqlCtes
           |SELECT doc_id, source, seq, tok_start, tok_end FROM dump
           |ORDER BY doc_id, seq""".stripMargin,
      "pipeline_mm_dump" ->
        s"""$dumpSqlCtes
           |SELECT p.doc_id, p.source, p.seq, p.tok_start, p.tok_end,
           | CASE (('0x'||substr(md5(d.text),1,1))::INT % 3)
           |   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           | md5(d.text) AS checksum,
           | CAST(octet_length(encode(d.text)) AS BIGINT) AS media_bytes,
           | CAST(len(e.embedding) AS INTEGER) AS emb_dim,
           | round(${SqlGen.dotSql("e.embedding", "e.embedding")}, 6) AS emb_norm2
           |FROM dump p JOIN documents d ON d.doc_id = p.doc_id
           |LEFT JOIN embeddings e ON e.vec_id = p.doc_id
           |ORDER BY p.doc_id, p.seq""".stripMargin,
      "pipeline_tokens" -> {
        val L = seqLen
        s"""WITH vc AS (SELECT token, CAST(row_number() OVER (ORDER BY c DESC, token) AS INTEGER) AS id FROM (
           |  SELECT token, count(*) AS c FROM
           |    (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
           |  WHERE token <> '' GROUP BY token ORDER BY c DESC, token LIMIT ${TextQueries.vocabSize}) v),
           |ws AS (SELECT doc_id, source, string_split(lower(text), ' ') AS W FROM documents),
           |te AS (SELECT doc_id, source, unnest(list_transform(range(1, len(W)+1), i -> {'pos': i, 'token': W[i]})) AS e FROM ws),
           |tk AS (SELECT doc_id, source, e.pos AS pos, e.token AS token FROM te WHERE e.token <> ''),
           |idd AS (SELECT doc_id, source, pos, COALESCE(id, 0) AS tid FROM tk LEFT JOIN vc USING (token)),
           |ids AS (SELECT doc_id, source, list(tid ORDER BY pos) AS ids, count(*) AS toks
           |        FROM idd GROUP BY doc_id, source),
           |c AS (SELECT doc_id, source, ids, toks,
           |        sum(toks) OVER (PARTITION BY source ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |      FROM ids),
           |e2 AS (SELECT doc_id, source, ids, toks, cum, cum - toks AS strt,
           |        unnest(range(CAST((cum - toks) // $L AS BIGINT), CAST(((cum - 1) // $L) + 1 AS BIGINT))) AS seq FROM c),
           |p AS (SELECT source, seq, doc_id,
           |        ids[CAST(greatest(seq*$L, strt) - strt + 1 AS BIGINT) : CAST(least((seq+1)*$L, cum) - strt AS BIGINT)] AS part
           |      FROM e2)
           |SELECT source, CAST(seq AS BIGINT) AS seq, CAST(sum(len(part)) AS BIGINT) AS toks,
           |       array_to_string(flatten(list(part ORDER BY doc_id)), ' ') AS ids
           |FROM p GROUP BY source, seq ORDER BY source, seq""".stripMargin
      },
      "pack_seqs" ->
        s"""SELECT doc_id, source, CAST(seq AS BIGINT) AS seq,
           | CAST(greatest(seq*$seqLen, cum - toks) - (cum - toks) AS BIGINT) AS tok_start,
           | CAST(least((seq+1)*$seqLen, cum) - (cum - toks) AS BIGINT) AS tok_end FROM
           | (SELECT doc_id, source, toks, cum,
           |   unnest(range(CAST((cum - toks) // $seqLen AS BIGINT), CAST(((cum - 1) // $seqLen) + 1 AS BIGINT))) AS seq FROM
           |  (SELECT doc_id, source, len(string_split(text,' ')) AS toks,
           |    sum(len(string_split(text,' '))) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |   FROM documents) c) t
           | ORDER BY doc_id, seq""".stripMargin.replaceAll("\n", ""))
  }
}
