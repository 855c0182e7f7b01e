package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis query set over `documents` (language ID, quality scoring,
  * token counting, fingerprinting). Spark side is pure Catalyst expressions;
  * oracles are generated from the same constants in [[SqlGen]].
  */
object TextQueries {

  /** Confusion-matrix style crosstab: labeled lang × heuristic prediction. */
  def langid(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("lang"), langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("c"))
      .orderBy("lang", "predicted")

  /** Per-doc quality metrics (token count, punctuation/stopword ratios,
    * composite score).
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("toks"),
        round(punctRatio(col("text")), 6).as("punct"),
        round(stopwordRatio(col("text")), 6).as("swr"),
        round(qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")
      .limit(200)

  /** Token counts per language: whitespace tokens + regex (BPE-ish) tokens.
    * NOT spread (r17): driver-measured 0.76× vs r15 with the r16 spread —
    * one hash/regex pass over short docs doesn't cover the round-robin
    * exchange, and the 8-core bench beat the 32-core one (pure overhead at
    * this work-per-row; a real multi-file corpus scans wide regardless).
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        tokenCount(col("text")).as("t"),
        regexTokenCount(col("text")).as("rt"))
      .groupBy("lang")
      .agg(sum("t").as("ws_tokens"), sum("rt").as("re_tokens"))
      .orderBy("lang")

  /** Gopher-style repetition/shape signals per doc: duplicate-3-gram
    * fraction and mean word length — the intra-document counterparts of the
    * corpus-level dedup ops.
    */
  def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"), wsTokens(col("text")).as("W"))
      .select(
        col("doc_id"),
        round(dupNgramFracOf(col("W")), 6).as("dup3"),
        round(meanWordLenOf(col("text"), col("W")), 6).as("mwl"))
      .orderBy("doc_id")
      .limit(200)

  /** Rolling-hash fingerprints: the content-defined min-hash per doc (docs
    * sharing long substrings tend to share it, single edits elsewhere leave
    * it untouched).
    */
  def rollingFp(s: SparkSession, dir: String): DataFrame =
    // not spread — r17, same measured reasoning as [[tokens]] (0.63× vs r15)
    Tables.documents(s, dir)
      .select(col("doc_id"), rollingFingerprint(col("text")).as("rfp"))
      .orderBy("doc_id")
      .limit(200)

  /** Tokenize-to-ids: rewrite each doc's token stream as C40 vocabulary ids
    * in original order (OOV → 0, the reserved unknown id) — the step between
    * vocabulary construction ([[vocab]]) and fixed-length sequence packing,
    * i.e. the actual tokenizer application pass of a training pipeline. The
    * vocabulary is a bounded broadcast; position survives the explode via
    * `posexplode` and the id array reassembles in pos order (sorted-struct
    * transform, the packed-codes idiom), so the whole pass is one explode +
    * broadcast join + partial-aggregable collect per doc.
    */
  def tokenIdsArray(s: SparkSession, dir: String): DataFrame = {
    val v = vocab(s, dir).select(col("token"), col("id"))
    Tables.spread(Tables.documents(s, dir)).filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "pos", "token")
      .filter(col("token") =!= "")
      .join(broadcast(v), Seq("token"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0)).as("tid"))
      .groupBy("doc_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos AS pos, tid AS tid))), e -> e.tid)")
        .as("ids"))
      .orderBy("doc_id")
  }

  /** Declared-query face of [[tokenIdsArray]]: the id stream serialized to a
    * canonical space-joined string so row hashing over the result is
    * engine-neutral (array cells don't sort/hash portably across harnesses).
    * Order semantics are identical — the string IS the pos-ordered id list.
    */
  def tokenIds(s: SparkSession, dir: String): DataFrame =
    tokenIdsArray(s, dir)
      .select(col("doc_id"), concat_ws(" ", col("ids")).as("ids"))
      .orderBy("doc_id")

  /** TF-IDF: the classic relevance weighting — a doc's term frequency ×
    * ln(N/df) corpus rarity; top-3 terms for each of the first 10 docs.
    * Document frequencies come from DISTINCT (doc, term) pairs over the FULL
    * corpus; both stages are partial-aggregable groupBys over one token
    * explode, and N arrives as a broadcast single-row aggregate, never a
    * driver-side collect. Ranking orders by the ROUNDED score (ties broken
    * by term), so Spark and the oracle rank identically.
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val toks = TextBackbone.unigrams(s, dir).select("doc_id", "w")
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val tf = toks.filter(col("doc_id") < 10).groupBy("doc_id", "w")
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("w").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), asc("term"))
    tf.join(dfreq, "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w").as("term"),
        round(col("tf") * log(col("n") / col("df")), 6).as("tfidf"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** BM25 parameters (the standard Robertson defaults). These vals are the
    * single source for both the Spark expression and the generated oracle.
    */
  val bm25K1 = 1.2
  val bm25B = 0.75

  /** BM25 retrieval scoring: rank the corpus against the distinct terms of
    * doc 0 (standing in for a user query). Same one-explode backbone as
    * [[tfidf]] — document lengths, corpus stats, term and document
    * frequencies are all partial-aggregable groupBys; the query-term set and
    * the one-row (N, avgdl) stats ride broadcasts; the final ranking is a
    * TakeOrdered top-10, never a global sort. Scoring docs against a query
    * at 100 TB stays one scan + thin aggregates.
    */
  def bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(10)

  /** The full BM25-scored frame (doc_id, bm25) behind [[bm25]] — unranked so
    * [[RetrievalQueries.hybrid]] can fuse it with the dense arm at its own
    * depth.
    */
  private[queries] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val toks = TextBackbone.unigrams(s, dir).select("doc_id", "w")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg("dl").as("avgdl"))
    val q = toks.filter(col("doc_id") === 0).select("w").distinct()
    val tf = toks.join(broadcast(q), "w").groupBy("doc_id", "w")
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "w").join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (bm25K1 + 1)) /
          (col("tf") + lit(bm25K1) * (lit(1 - bm25B) + lit(bm25B) * col("dl") / col("avgdl")))).as("ts"))
      .groupBy("doc_id").agg(round(sum("ts"), 6).as("bm25"))
  }

  /** Fingerprint clusters: docs whose sorted-distinct-word set collides.
    * Not spread — r17, same measured reasoning as [[tokens]] (0.58× vs r15).
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(count(lit(1)).as("c"), min("doc_id").as("keeper"))
      .orderBy(desc("c"), asc("fp"))
      .limit(50)

  /** How many tokens the vocabulary keeps. A val so the oracle is rendered
    * from the same constant.
    */
  val vocabSize = 200

  /** Vocabulary construction: the top-[[vocabSize]] corpus tokens by
    * frequency, assigned dense contiguous ids in (count DESC, token) order —
    * the id table a tokenizer trains from. The frequency count is one
    * partial-aggregable groupBy over the token explode; ranking is a
    * TakeOrdered top-k (never a global sort of the vocabulary); the
    * row_number window runs AFTER the limit, over `vocabSize` rows — its
    * single-partition shape is bounded by the constant, not the corpus.
    */
  def vocab(s: SparkSession, dir: String): DataFrame = {
    val top = TextBackbone.unigrams(s, dir)
      .select(col("w").as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("token")).limit(vocabSize)
    val w = graft.operators.BoundedWindow.ordered("vocab", desc("c"), asc("token"))
    top.withColumn("id", row_number().over(w).cast("int"))
      .select(col("id"), col("token"), col("c"))
      .orderBy("id")
  }

  /** Top-rank cutoff for [[zipf]]'s log-log fit. */
  val zipfTopN = 100

  /** Zipf rank-frequency fit per source: OLS slope of ln(freq) against
    * ln(rank) over each source's top [[zipfTopN]] tokens, with r² — the
    * "is this source natural language" diagnostic (natural text sits near
    * slope −1; templated/boilerplate corpora flatten or cliff). Both
    * engines quantize ln values to 6 decimals and cast them to exact
    * DECIMAL before the moment sums, so the only doubles are the shared
    * ln() inputs (integer ranks/counts) and the final closed-form division
    * written identically on both sides.
    *
    * Scale: token counts partial-aggregate on (source, token); the rank
    * window runs per source over the VOCABULARY-sized aggregate, never the
    * corpus; the fit reduces to one 6-number moment row per source.
    */
  def zipf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = TextBackbone.unigrams(s, dir).select("source", "w")
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val win = Window.partitionBy("source").orderBy(desc("c"), asc("w"))
    val pts = counts.withColumn("r", row_number().over(win))
      .filter(col("r") <= zipfTopN)
      .select(col("source"),
        round(log(col("r").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("c").cast("double")), 6).cast("decimal(18,6)").as("y"))
    pts.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n"), {
        val nd = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val mxy = nd * col("sxy").cast("double") - sx * sy
        val mxx = nd * col("sxx").cast("double") - sx * sx
        val myy = nd * col("syy").cast("double") - sy * sy
        struct(
          round(mxy / mxx, 6).as("slope"),
          round((mxy * mxy) / (mxx * myy), 6).as("r2")).as("m")
      })
      .select(col("source"), col("n"), col("m.slope").as("slope"),
        col("m.r2").as("r2"))
      .orderBy("source")
  }

  /** Unigram language-model scoring: train p(w) = count(w)/total on the full
    * corpus, then score each doc by its mean token log-probability — the
    * cheap perplexity proxy a curation pipeline thresholds on (boilerplate
    * and word-salad score low; typical prose scores near the corpus mode).
    * Two partial-aggregable passes over one token explode; the scalar total
    * rides a broadcast. Per-doc mean goes through sort-then-sum
    * (`aggregate(array_sort(collect_list(...)))`) so the double accumulation
    * order is identical in Spark and the oracle; the list is bounded by a
    * single document's length, never the corpus.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val toks = TextBackbone.unigrams(s, dir).select("doc_id", "w")
    val wc = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = wc.agg(sum("c").cast("double").as("tot"))
    toks.filter(col("doc_id") < 200)
      .join(wc, "w").crossJoin(broadcast(tot))
      .select(col("doc_id"), log(col("c") / col("tot")).as("lp"))
      .groupBy("doc_id")
      .agg(round(
        expr("aggregate(array_sort(collect_list(lp)), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          / count(lit(1)), 6).as("lm_logp"))
      .orderBy("doc_id")
  }

  /** Minimum bigram occurrences for the collocation query — PMI of rare
    * pairs is noise (one co-occurrence of two rare words maximizes it).
    */
  val pmiMinCount = 5

  /** Collocations kept by the declared PMI query. */
  val pmiTopN = 20

  /** Bigram collocation mining by pointwise mutual information:
    * `PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) )` over adjacent-token bigrams —
    * the phrase-discovery step a tokenizer/normalization pipeline runs to
    * find multi-word units ("new york") worth fusing. The bigram explode is
    * one row per token (same backbone cost as the unigram explode); unigram
    * and bigram counts are partial-aggregable groupBys; the two corpus
    * totals ride broadcasts; the final ranking is a TakeOrdered
    * top-[[pmiTopN]] over the min-count-filtered pairs.
    */
  def pmi(s: SparkSession, dir: String): DataFrame = {
    val toks = TextBackbone.unigrams(s, dir).select("w")
    val uc = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uc.agg(sum("c").cast("double").as("T"))
    val bi = TextBackbone.bigrams(s, dir).select("w1", "w2")
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val btot = bc.agg(sum("c").cast("double").as("B"))
    bc.filter(col("c") >= pmiMinCount)
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("c"),
        round(log(col("c") * col("T") * col("T") / (col("B") * col("c1") * col("c2"))), 6)
          .as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(pmiTopN)
  }

  /** Out-of-vocabulary rate per doc against the [[vocab]] id table: the
    * fraction of a doc's tokens outside the top-[[vocabSize]] corpus
    * vocabulary — high-OOV docs are noise/foreign/garbled, and the rate is
    * the quality signal tokenizer-aware curation thresholds on. The vocab is
    * a bounded [[vocabSize]]-row broadcast, so the anti-join runs scan-local;
    * both counts are partial-aggregable.
    */
  def oov(s: SparkSession, dir: String): DataFrame = {
    val toks = TextBackbone.unigrams(s, dir).select("doc_id", "w")
    val v = vocab(s, dir).select(col("token").as("w"))
    val per = toks.groupBy("doc_id").agg(count(lit(1)).as("toks"))
    val ov = toks.join(broadcast(v), Seq("w"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("oov"))
    per.join(ov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("oov"), lit(0L)).as("oov"),
        round(coalesce(col("oov"), lit(0L)) / col("toks"), 6).as("oov_rate"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Retrieval-chunking geometry: 32-token windows advancing by 24 (8-token
    * overlap) — small enough that typical ~60-token docs produce several
    * overlapping chunks at verify scale.
    */
  val chunkToks = 32L
  val chunkStride = 24L

  /** Overlapping-window document chunking (the RAG-indexing shape): each doc
    * splits into [[chunkToks]]-token windows advancing by [[chunkStride]],
    * the last window clamped to the doc end — one output row per chunk with
    * its doc-local token range AND the chunk text itself. Entirely
    * scan-local: the window count is per-row arithmetic, the fan-out is a
    * bounded `sequence()` explode (≈ toks/stride rows per doc), the text is
    * a `slice` + `concat_ws` over the already-split token array — no
    * shuffle anywhere before the output sort, so at 100 TB chunking runs
    * in-line in the read stage of the indexing job.
    */
  def chunks(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), split(col("text"), " ").as("W"))
      .withColumn("toks", size(col("W")).cast("long"))
      .withColumn("nc",
        when(col("toks") <= chunkToks, lit(1L))
          .otherwise(expr(s"(toks - $chunkToks + $chunkStride - 1) div $chunkStride + 1")))
      .select(col("doc_id"), col("W"), col("toks"),
        explode(sequence(lit(0L), col("nc") - 1)).as("chunk"))
      .select(col("doc_id"), col("chunk"), col("W"),
        (col("chunk") * chunkStride).as("tok_start"),
        least(col("chunk") * chunkStride + chunkToks, col("toks")).as("tok_end"))
      .select(col("doc_id"), col("chunk"), col("tok_start"), col("tok_end"),
        concat_ws(" ", expr(
          "slice(W, CAST(tok_start + 1 AS INT), CAST(tok_end - tok_start AS INT))"))
          .as("chunk_text"))
      .orderBy("doc_id", "chunk")

  /** Gopher-style rule thresholds (adapted to the synthetic corpus's token
    * regime). One val per rule — the oracle CASE expressions are rendered
    * from these.
    */
  val gMinToks = 10L
  val gMaxToks = 300L
  val gMinMwl = 3.0
  val gMaxMwl = 10.0
  val gMaxPunct = 0.2
  val gMinStops = 2L
  val gMaxRep = 0.5

  /** Rule-based quality gate (the Gopher-rules shape): per-source counts of
    * docs passing each structural rule — token-count window, mean-word-length
    * window, punctuation ceiling, minimum stopword evidence, repetition
    * ceiling — plus the conjunctive keep count. All signals are the
    * already-verified codegen'd per-doc metrics; the rollup is one
    * partial-aggregable pass of filtered counts (shuffle carries 7 numbers
    * per source, never rows), i.e. the gate runs in-line in a 100 TB scan.
    */
  def gopher(s: SparkSession, dir: String): DataFrame = {
    // One split per doc, five signals: W is projected as its own column so
    // the tokenization is materialized once (CollapseProject keeps it — a
    // non-cheap expression with 4 references) instead of re-derived inside
    // each signal's CASE WHEN, where codegen CSE cannot share it.
    val d = Tables.spread(Tables.documents(s, dir))
      .select(col("source"), col("text"), wsTokens(col("text")).as("W"))
      .select(col("source"),
        tokenCountOf(col("W")).as("t"),
        meanWordLenOf(col("text"), col("W")).as("m"),
        punctRatio(col("text")).as("p"),
        stopwordHitsOf(col("W"), "en").as("sw"),
        dupNgramFracOf(col("W")).as("r"))
    val rLen = col("t") >= gMinToks && col("t") <= gMaxToks
    val rMwl = col("m") >= gMinMwl && col("m") <= gMaxMwl
    val rPunct = col("p") <= gMaxPunct
    val rStop = col("sw") >= gMinStops
    val rRep = col("r") <= gMaxRep
    d.groupBy("source").agg(
      count(lit(1)).as("docs"),
      count(when(rLen, 1)).as("pass_len"),
      count(when(rMwl, 1)).as("pass_mwl"),
      count(when(rPunct, 1)).as("pass_punct"),
      count(when(rStop, 1)).as("pass_stop"),
      count(when(rRep, 1)).as("pass_rep"),
      count(when(rLen && rMwl && rPunct && rStop && rRep, 1)).as("kept"))
      .orderBy("source")
  }

  /** Bigram language-model scoring with add-one smoothing: train
    * `p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)` on the full corpus, score each
    * doc by its mean bigram log-probability — one modeling order above
    * [[lmScore]]'s unigram proxy, and the better boilerplate detector
    * (repetitive word PAIRS score high even when the unigrams are common).
    * Same scale shape as [[pmi]] + [[lmScore]]: one bigram explode, two
    * partial-aggregable count tables, the vocab-size scalar on a broadcast,
    * per-doc mean via sort-then-sum so double accumulation is
    * engine-identical.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val uc = TextBackbone.unigrams(s, dir).select("w")
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val vocabN = uc.agg(count(lit(1)).cast("double").as("V"))
    val bi = TextBackbone.bigrams(s, dir)
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    bi.filter(col("doc_id") < 200)
      .join(bc, Seq("w1", "w2"))
      .join(uc.select(col("w").as("w1"), col("cu")), "w1")
      .crossJoin(broadcast(vocabN))
      .select(col("doc_id"), log((col("cb") + 1.0) / (col("cu") + col("V"))).as("lp"))
      .groupBy("doc_id")
      .agg(round(
        expr("aggregate(array_sort(collect_list(lp)), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          / count(lit(1)), 6).as("bigram_logp"))
      .orderBy("doc_id")
  }

  /** Misra-Gries sketch capacity for [[heavy]]. A val shared with the
    * exact-regime guard and the spec.
    */
  val heavyCapacity = 64

  val cmsDepth = 4
  val cmsWidth = 64

  /** `text_cms` — Count-Min sketch audit ([[graft.operators.CountMin]]):
    * the d×w counter table built in one exploded scan (256 counters at
    * 4×64, mergeable by addition — the point-frequency member of the
    * sketch family next to HLL's distinct-count and Misra-Gries's top-k),
    * then the 10 highest-frequency tokens probed through it: exact count,
    * CMS estimate (min over the d counters), and the one-sided overcount
    * the collision bound promises — the "is the sketch width right for
    * this corpus" reading an operator checks before shipping CMS counters
    * instead of a full frequency table. All integers; the row hashes are
    * the shared minhash md5 basis, mirrored in the oracle.
    */
  def cms(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val toks = TextBackbone.unigrams(s, dir).select(col("w"))
    val ctr = CountMin.counters(toks, "w", cmsDepth, cmsWidth)
      .localCheckpoint(true) // probe join + any future consumer
    val exact = toks.groupBy("w").agg(count(lit(1)).as("exact"))
    val top = exact.orderBy(desc("exact"), asc("w")).limit(10)
    CountMin.estimate(ctr, top, "w", cmsDepth, cmsWidth)
      .join(top, "w")
      .select(col("w").as("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy(desc("exact"), asc("token"))
  }

  /** Heavy hitters over the token stream via [[graft.expressions.FreqItemsAgg]]
    * — ONE mergeable aggregate whose buffer holds at most [[heavyCapacity]]
    * counters no matter the input size; at 100 TB the shuffle carries a
    * fixed-size sketch, never the token-frequency table. The oracle compares
    * against exact counts, which is sound only while the corpus vocabulary
    * fits the sketch (the Misra-Gries exact regime — decrements never
    * fire); the guard fails LOUDLY if the corpus outgrows that regime
    * rather than silently diverging from the exact-count oracle.
    */
  def heavy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val toks = TextBackbone.unigrams(s, dir).select(col("w").as("token"))
    val vocabN = BackboneRegistry.scalarOrBuild[Long](s, s"vocabCount:$dir") {
      toks.distinct().count()
    }
    require(vocabN <= heavyCapacity,
      s"corpus vocabulary $vocabN exceeds the $heavyCapacity-counter exact regime " +
        "— the exact-count oracle would silently diverge; raise heavyCapacity")
    val agg = graft.expressions.FreqItemsAgg(
      ColumnBridge.expression(col("token")), heavyCapacity).toAggregateExpression()
    toks.agg(ColumnBridge.column(agg).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.cnt").as("c"))
      .orderBy(desc("c"), asc("token"))
      .limit(20)
  }

  /** PII/identifier redaction over the events payloads: the full
    * [[TextFunctions.redact]] chain (emails → IPv4 → phones → digit runs;
    * the synthetic props exercise the digit-run tier, the PII tiers are
    * spec-pinned on adversarial strings). Scan-only — a codegen'd
    * regexp_replace chain with no shuffle before the deterministic
    * TakeOrdered sample, which is how a 100 TB curation pass would run it:
    * in-line in the read stage.
    */
  def redactQ(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        redact(col("props")).as("masked"),
        regexp_count(col("props"), lit("[0-9]+")).as("hits"))
      .orderBy("event_id")
      .limit(200)

  /** Per-source quality-score normalization: percent_rank of each doc's
    * composite quality WITHIN its source — the calibration step before a
    * single global keep-threshold can be applied across sources with
    * different score distributions. The window partitions by source, so at
    * 100 TB each source's ranking is an independent shuffle partition — no
    * global sort, no single-partition window.
    */
  def qualityNorm(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality"), col("doc_id"))
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"),
        round(qualityScore(col("text")), 6).as("quality"))
      .withColumn("q_norm", round(percent_rank().over(w), 6))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Per-doc 3-gram novelty: the fraction of a doc's DISTINCT word
    * 3-grams whose FIRST corpus occurrence (minimum doc_id) is this doc —
    * the marginal-contribution curve dataset growth decisions read
    * ("newly crawled shard N adds 3% novel content"). One bounded 3-gram
    * explode, a per-gram min partial-aggregate, and one gram-keyed join
    * back — every shuffle carries gram keys or per-doc counters, so the
    * pass scales exactly like the dedup family's shingle stage.
    */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), split(lower(col("text")), " ").as("W"))
      .filter(size(col("W")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(W)-3), i -> concat_ws(' ', W[i], W[i+1], W[i+2]))")).as("g"))
      .distinct()
    val firstDoc = grams.groupBy("g").agg(min("doc_id").as("fd"))
    grams.join(firstDoc, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_grams"), col("novel"),
        round(col("novel") / col("n_grams"), 6).as("novelty"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** Lexical diversity per doc: type-token ratio and Guiraud's root-TTR
    * (types / √tokens, the length-corrected variant) — the vocabulary-
    * richness quality signal (templated/boilerplate text repeats its few
    * types; rich prose doesn't). One partial-aggregable count +
    * two-phase distinct over the shared token backbone.
    */
  def ttr(s: SparkSession, dir: String): DataFrame =
    TextBackbone.unigrams(s, dir).select("doc_id", "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("tokens"), countDistinct("w").as("types"))
      .select(col("doc_id"), col("tokens"), col("types"),
        round(col("types") / col("tokens"), 6).as("ttr"),
        round(col("types") / sqrt(col("tokens")), 6).as("guiraud"))
      .orderBy("doc_id")
      .limit(200)

  /** RAKE keyword extraction over the corpus (Rapid Automatic Keyword
    * Extraction): candidate phrases are maximal runs of consecutive
    * non-stopword tokens, each word scores degree/frequency over ALL
    * candidate phrases (degree = Σ length of the phrases its occurrences
    * sit in), and a phrase scores the sum of its words' scores — the
    * classic unsupervised keyword ranker. Top 25 distinct phrases by
    * (score, phrase).
    *
    * Engine-exactness: word scores are computed in MICRO-units with
    * integer floor division (`deg·10⁶ div freq`), so phrase scores are
    * integer sums — order-independent, no float accumulation anywhere
    * until the final fixed-shape division. Scale shape: one posexplode
    * scan, per-doc windows (doc-cardinality parallelism), then plain
    * partial-aggregable rollups and equi-joins on the word key; the only
    * data-sized shuffles carry (doc, word) tuples.
    */
  def rake(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = stopwords("en")
    val toks = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "" && !col("w").isInCollection(stop))
    // maximal consecutive runs: pos − per-doc row_number is constant
    // within a run (empty tokens and stopwords both break runs)
    val cand = toks.withColumn("grp",
      col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    val withLen = cand.withColumn("plen",
      count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
    val wordScore = withLen.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("score_u", expr("(deg * 1000000) div freq"))
    withLen.join(wordScore.select("w", "score_u"), "w")
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        array_join(expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"),
          " ").as("phrase"),
        sum("score_u").as("pscore_u"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("occurrences"), max("pscore_u").as("su"))
      .select(col("phrase"), col("occurrences"),
        round(col("su") / lit(1000000.0), 6).as("score"))
      .orderBy(desc("score"), asc("phrase"))
      .limit(25)
  }

  /** Oracle mirror of [[bm25Scores]], split as (WITH-chain, final SELECT) so
    * [[RetrievalQueries]]'s hybrid oracle can wrap the SELECT as one more CTE
    * — one source for both renderings, the two cannot drift.
    */
  private[queries] val bm25WithChain: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |            FROM documents),
      |tk AS (SELECT doc_id, w FROM tok WHERE w <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |q AS (SELECT DISTINCT w FROM tk WHERE doc_id = 0),
      |tf AS (SELECT t.doc_id, t.w, count(*) AS tf FROM tk t JOIN q ON q.w = t.w
      |       GROUP BY t.doc_id, t.w),
      |dfreq AS (SELECT w, count(*) AS df FROM
      |          (SELECT DISTINCT doc_id, w FROM tk) GROUP BY w)""".stripMargin

  private[queries] val bm25SelectSql: String =
    s"""SELECT tf.doc_id AS doc_id,
      |  round(sum(ln(1.0 + (st.n - dfreq.df + 0.5)/(dfreq.df + 0.5)) *
      |    (tf.tf * ${bm25K1 + 1}) /
      |    (tf.tf + $bm25K1 * (${1 - bm25B} + $bm25B * dl.dl / st.avgdl))), 6) AS bm25
      |FROM tf JOIN dfreq ON dfreq.w = tf.w JOIN dl ON dl.doc_id = tf.doc_id, st
      |GROUP BY tf.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // text_bpe — distributed BPE merge training
  // -------------------------------------------------------------------

  val bpeMerges = 8

  /** `text_bpe` — train byte-pair-encoding merges ON the cluster: the
    * classic Sennrich algorithm over the corpus's weighted word table,
    * emitting one oracled row per merge (rank, left, right, merged symbol,
    * weighted pair count). Tokenizer training is the one preprocessing step
    * every LLM pipeline runs exactly once over ALL data — this is its
    * distributed form.
    *
    * Representation is the engine-portable trick that makes the whole loop
    * relational: each word's symbol sequence is ONE string with double-space
    * separators and double-space padding, so applying merge (a, b) is the
    * plain left-to-right `replace(state, ' a  b ', ' ab ')` — the single
    * space each side borrows from the double separator both guards symbol
    * boundaries (symbols contain no spaces) AND leaves a space behind for
    * the neighboring pair, so consecutive occurrences merge exactly like
    * BPE's greedy scan, identically in any engine with left-to-right
    * non-overlapping replace semantics.
    *
    * Scale shape: the corpus-sized stage is the word-count rollup (one
    * partial-aggregable scan); every round then works the DISTINCT-WORD
    * table (vocab-sized, millions of rows at 100 TB — cluster work, but
    * corpus-independent): explode adjacent symbol pairs → weighted count →
    * one TakeOrdered-1 argmax scalar to the driver → literal replace, state
    * eagerly checkpointed per round (the PageRank round discipline).
    */
  def bpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, dir)
      .toDF("merge_no", "left", "right", "merged", "pair_count")
      .orderBy("merge_no")
  }

  /** The trained merge list (rank order), once per (session, dir) — shared
    * by the training row (`text_bpe`) and the APPLY pass
    * (`text_bpe_apply`), so the apply chain tokenizes with exactly the
    * merges the training row declares. Driver state is [[bpeMerges]] tiny
    * tuples — a model artifact, not data.
    */
  def trainedMerges(s: SparkSession,
                    dir: String): Seq[(Int, String, String, String, Long)] =
    BackboneRegistry.scalarOrBuild(s, s"bpe_merges:$dir") {
      val wc = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      var st = wc.withColumn("st",
        expr("'  ' || array_join(transform(sequence(1, length(word)), " +
          "i -> substr(word, i, 1)), '  ') || '  '"))
        .select(col("cnt"), col("st"))
        .localCheckpoint(true)
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      for (m <- 1 to bpeMerges) {
        val best = st
          .withColumn("sym", expr("filter(split(st, '  '), x -> x != '')"))
          .where(size(col("sym")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, size(sym) - 1), " +
              "i -> struct(element_at(sym, i) AS l, element_at(sym, i + 1) AS r))"))
            .as("pr"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(sum("cnt").as("c"))
          .orderBy(desc("c"), asc("l"), asc("r"))
          .limit(1).collect()
        if (best.nonEmpty) {
          val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          st = st.select(col("cnt"),
            replace(col("st"), lit(s" $l  $r "), lit(s" $l$r ")).as("st"))
            .localCheckpoint(true)
          out += ((m, l, r, l + r, c))
        }
      }
      out.result()
    }

  /** Rows surfaced by `text_bpe_apply` (bounded declared output). */
  val bpeApplyLimit = 200

  /** Per-doc BPE token sequences under the trained merges — the apply
    * pass's core frame, exposed for the round-trip spec (tokens must
    * re-concatenate to the doc's lowercased text minus spaces).
    */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir).map(t => (t._2, t._3))
    val st0 = expr(
      "concat_ws('', transform(filter(split(lower(text), ' '), w -> w != ''), " +
        "w -> '  ' || array_join(transform(sequence(1, length(w)), " +
        "i -> substr(w, i, 1)), '  ') || '  '))")
    val applied = merges.foldLeft(st0: org.apache.spark.sql.Column) {
      case (c, (l, r)) => replace(c, lit(s" $l  $r "), lit(s" $l$r "))
    }
    // (the stx alias keeps the replace chain readable in the plan)
    // r16: the replace chain runs per row fused into the scan — spread the
    // single-row-group input so it runs on every core (Tables.spread)
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), applied.as("stx"))
      .select(col("doc_id"),
        expr("filter(split(stx, '  '), x -> x != '')").as("syms"))
  }

  /** `text_bpe_apply` — APPLY the trained merges to every document (r12
    * verdict item 4: C156 trained merges but nothing consumed them — the
    * tokenizer story ended one step early). Each doc's words become padded
    * symbol states (the same double-space representation as training;
    * word states concatenate with a 4-space run between words, which no
    * ` l  r ` pattern can span, so merges never cross word boundaries),
    * the [[bpeMerges]] trained replaces apply IN RANK ORDER as a chain of
    * scan-local literal replaces (the merge list is a broadcast-sized model
    * artifact — the corpus is touched once, codegen'd, no shuffle before
    * the bounded output), and each doc declares its BPE token count plus
    * its first 8 token ids under the deterministic vocabulary
    * (post-merge distinct symbols, ordered — the id assignment a real
    * tokenizer would freeze alongside the merges).
    *
    * The oracle re-runs training AND application end-to-end in DuckDB
    * (the w/p CTE cascade from `text_bpe`, then the same replace chain
    * via scalar subqueries), so a drift anywhere in train OR apply fails
    * the row.
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    // r17 (guide §5): BOTH consumers below — the vocab distinct and the
    // per-doc surface — otherwise re-run the full [[bpeMerges]]-deep replace
    // chain over every document (two corpus passes of the suite's heaviest
    // per-row expression). One eager materialization makes it one pass.
    val withSyms = bpeTokens(s, dir).localCheckpoint(true)
    val vocab = withSyms.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("tok_id",
        row_number().over(graft.operators.BoundedWindow.ordered("vocab", col("sym"))))
    withSyms
      .select(col("doc_id"), size(col("syms")).as("n_tokens"),
        posexplode_outer(slice(col("syms"), 1, 8)))
      .join(vocab, col("col") === col("sym"), "left")
      .groupBy("doc_id", "n_tokens")
      .agg(max(when(col("pos") === 0, col("tok_id"))).as("id0"),
        (1 until 8).map(i =>
          max(when(col("pos") === i, col("tok_id"))).as(s"id$i")): _*)
      .orderBy("doc_id")
      .limit(bpeApplyLimit)
  }

  /** The BPE oracle unrolls the merge loop (PageRank discipline): one
    * MATERIALIZED state CTE and one argmax CTE per round, each round's
    * result row hash-compared — a different winning pair at any round
    * fails loudly. Pair extraction zips two parallel unnests (the
    * text_rake idiom); state update is the same boundary-guarded replace.
    */
  private def bpeOracle: String = {
    val rounds = (1 to bpeMerges).map { m =>
      s"""p$m AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT cnt,
         |      unnest(list_transform(range(1, len(sym)), i -> sym[i])) AS l,
         |      unnest(list_transform(range(1, len(sym)), i -> sym[i+1])) AS r
         |    FROM (SELECT cnt,
         |        list_filter(string_split(st, '  '), x -> x <> '') AS sym
         |      FROM w${m - 1}) t) pp
         |  GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1),
         |w$m AS MATERIALIZED (SELECT cnt,
         |    replace(st, ' ' || (SELECT l FROM p$m) || '  ' || (SELECT r FROM p$m) || ' ',
         |      ' ' || (SELECT l FROM p$m) || (SELECT r FROM p$m) || ' ') AS st
         |  FROM w${m - 1})""".stripMargin
    }.mkString(",\n")
    val rows = (1 to bpeMerges).map { m =>
      s"""SELECT $m AS merge_no, l AS "left", r AS "right",
         |  l || r AS merged, c AS pair_count FROM p$m""".stripMargin
    }.mkString(" UNION ALL\n")
    s"""WITH wc AS (SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) tw
       |  WHERE word <> '' GROUP BY word),
       |w0 AS MATERIALIZED (SELECT cnt,
       |    '  ' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substr(word, i, 1)), '  ') || '  ' AS st
       |  FROM wc),
       |$rounds
       |SELECT * FROM ($rows) ORDER BY merge_no""".stripMargin
  }

  /** The apply-pass oracle: the `text_bpe` training cascade (w/p CTEs) to
    * re-derive the merges, then the SAME boundary-guarded replace chain
    * applied to every document via scalar subqueries against each round's
    * winning pair, the post-merge vocabulary as row_number over distinct
    * symbols, and the per-doc (count, first-8 ids) surface.
    */
  private def bpeApplyOracle: String = {
    val rounds = (1 to bpeMerges).map { m =>
      s"""p$m AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT cnt,
         |      unnest(list_transform(range(1, len(sym)), i -> sym[i])) AS l,
         |      unnest(list_transform(range(1, len(sym)), i -> sym[i+1])) AS r
         |    FROM (SELECT cnt,
         |        list_filter(string_split(st, '  '), x -> x <> '') AS sym
         |      FROM w${m - 1}) t) pp
         |  GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1),
         |w$m AS MATERIALIZED (SELECT cnt,
         |    replace(st, ' ' || (SELECT l FROM p$m) || '  ' || (SELECT r FROM p$m) || ' ',
         |      ' ' || (SELECT l FROM p$m) || (SELECT r FROM p$m) || ' ') AS st
         |  FROM w${m - 1})""".stripMargin
    }.mkString(",\n")
    val applyRounds = (1 to bpeMerges).map { m =>
      s"""a$m AS MATERIALIZED (SELECT doc_id,
         |    replace(st, ' ' || (SELECT l FROM p$m) || '  ' || (SELECT r FROM p$m) || ' ',
         |      ' ' || (SELECT l FROM p$m) || (SELECT r FROM p$m) || ' ') AS st
         |  FROM a${m - 1})""".stripMargin
    }.mkString(",\n")
    val idCols = (0 until 8)
      .map(i => s"max(CASE WHEN pos = $i THEN tok_id END) AS id$i").mkString(", ")
    s"""WITH wc AS (SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) tw
       |  WHERE word <> '' GROUP BY word),
       |w0 AS MATERIALIZED (SELECT cnt,
       |    '  ' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substr(word, i, 1)), '  ') || '  ' AS st
       |  FROM wc),
       |$rounds,
       |a0 AS (SELECT doc_id, array_to_string(list_transform(
       |    list_filter(string_split(lower(text), ' '), w -> w <> ''),
       |    w -> '  ' || array_to_string(list_transform(range(1, length(w) + 1),
       |      i -> substr(w, i, 1)), '  ') || '  '), '') AS st
       |  FROM documents),
       |$applyRounds,
       |syms AS (SELECT doc_id,
       |    list_filter(string_split(st, '  '), x -> x <> '') AS syms
       |  FROM a$bpeMerges),
       |vocab AS (SELECT sym, row_number() OVER (ORDER BY sym) AS tok_id FROM
       |  (SELECT DISTINCT unnest(syms) AS sym FROM syms) v),
       |ex AS (SELECT doc_id, len(syms) AS n_tokens,
       |    unnest(list_transform(range(1, least(len(syms), 8) + 1), i -> i - 1)) AS pos,
       |    unnest(syms[1:least(len(syms), 8)]) AS sym
       |  FROM syms WHERE len(syms) > 0
       |  UNION ALL SELECT doc_id, 0 AS n_tokens, NULL AS pos, NULL AS sym
       |  FROM syms WHERE len(syms) = 0)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, $idCols
       |FROM ex LEFT JOIN vocab USING (sym)
       |GROUP BY doc_id, n_tokens ORDER BY doc_id LIMIT $bpeApplyLimit""".stripMargin
  }

  val oracle: Map[String, String] = {
    val punctSql =
      "(CASE WHEN length(text) = 0 THEN 0.0 ELSE (length(text)-length(regexp_replace(text,'[.,;:!?]','','g')))*1.0/length(text) END)"
    val toksSql = "len(string_split(text,' '))"
    val swrSql = s"CAST(${SqlGen.hitsSql("en")} AS DOUBLE)/$toksSql"
    val qualSql =
      s"least($toksSql/100.0, 1.0)*0.4 + (1.0 - $punctSql)*0.3 + least($swrSql*5.0, 1.0)*0.3"
    Map(
      "text_bpe" -> bpeOracle,
      "text_bpe_apply" -> bpeApplyOracle,
      "text_redact" -> {
        import graft.functions.TextFunctions.{emailRe, ipRe, phoneRe, digitRunRe}
        s"""SELECT event_id,
           | regexp_replace(regexp_replace(regexp_replace(regexp_replace(props,
           |   '$emailRe', '[EMAIL]', 'g'), '$ipRe', '[IP]', 'g'),
           |   '$phoneRe', '[PHONE]', 'g'), '$digitRunRe', '#', 'g') AS masked,
           | CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS hits
           | FROM events ORDER BY event_id LIMIT 200""".stripMargin.replaceAll("\n", "")
      },
      "text_quality_norm" ->
        s"""SELECT doc_id, source, quality,
           | round(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 6) AS q_norm
           | FROM (SELECT doc_id, source, round($qualSql, 6) AS quality FROM documents) t
           | ORDER BY doc_id LIMIT 200""".stripMargin.replaceAll("\n", ""),
      "text_langid" ->
        s"""SELECT lang, predicted, count(*) AS c FROM
           | (SELECT lang, ${SqlGen.langIdSql} AS predicted FROM documents) t
           | GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin.replaceAll("\n", ""),
      "text_quality" ->
        s"""SELECT doc_id, CAST($toksSql AS BIGINT) AS toks, round($punctSql, 6) AS punct,
           | round($swrSql, 6) AS swr, round($qualSql, 6) AS quality
           | FROM documents ORDER BY doc_id LIMIT 200""".stripMargin.replaceAll("\n", ""),
      "text_tokens" ->
        s"""SELECT lang, CAST(sum($toksSql) AS BIGINT) AS ws_tokens,
           | CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))) AS BIGINT) AS re_tokens
           | FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replaceAll("\n", ""),
      "text_repetition" -> {
        val g = "list_transform(range(1, len(W)-1), i -> W[i]||' '||W[i+1]||' '||W[i+2])"
        s"""SELECT doc_id,
           | round(CASE WHEN len(W) < 3 THEN 0.0 ELSE 1.0 - len(list_distinct($g))*1.0/(len(W)-2) END, 6) AS dup3,
           | round(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(W, x -> length(x))) AS DOUBLE)/len(W) END, 6) AS mwl
           | FROM (SELECT doc_id, text, string_split(text,' ') AS W FROM documents) t
           | ORDER BY doc_id LIMIT 200""".stripMargin.replaceAll("\n", "")
      },
      "text_rolling_fp" -> {
        val w = 8; val B = 257L; val mask = 0xFFFFFFFFL
        val ks = (0 until w).map { j =>
          var p = 1L; (0 until (w - 1 - j)).foreach(_ => p = (p * B) & mask); p
        }
        val term = (0 until w)
          .map(j => s"CAST(ascii(substr(text, i+$j, 1)) AS BIGINT)*${ks(j)}").mkString(" + ")
        s"""SELECT doc_id, CASE WHEN length(text) < $w THEN CAST(0 AS BIGINT)
           | ELSE list_min(list_transform(range(1, length(text)-${w - 2}), i -> ($term) & $mask)) END AS rfp
           | FROM documents ORDER BY doc_id LIMIT 200""".stripMargin.replaceAll("\n", "")
      },
      "text_tfidf" ->
        """WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
          |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
          |       WHERE w <> '' AND doc_id < 10 GROUP BY doc_id, w),
          |dfreq AS (SELECT w, count(*) AS df FROM
          |          (SELECT DISTINCT doc_id, w FROM tok WHERE w <> '') GROUP BY w)
          |SELECT doc_id, term, tfidf, rn FROM (
          |  SELECT tf.doc_id, tf.w AS term, round(tf.tf * ln(nn.n/dfreq.df), 6) AS tfidf,
          |    CAST(row_number() OVER (PARTITION BY tf.doc_id
          |      ORDER BY round(tf.tf * ln(nn.n/dfreq.df), 6) DESC, tf.w) AS INTEGER) AS rn
          |  FROM tf JOIN dfreq ON dfreq.w = tf.w, nn) t
          |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
      "text_bm25" ->
        s"""$bm25WithChain
          |$bm25SelectSql
          |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
      "text_zipf" ->
        s"""WITH tok AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
           |    FROM documents),
           |cnt AS (SELECT source, w, count(*) AS c FROM tok WHERE w <> ''
           |    GROUP BY source, w),
           |rk AS (SELECT source, c, row_number() OVER (
           |    PARTITION BY source ORDER BY c DESC, w) AS r FROM cnt),
           |pts AS (SELECT source, CAST(round(ln(r), 6) AS DECIMAL(18,6)) AS x,
           |    CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS y
           |  FROM rk WHERE r <= $zipfTopN),
           |mo AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
           |  FROM pts GROUP BY source),
           |d AS (SELECT source, n,
           |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS mxy,
           |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS mxx,
           |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS myy
           |  FROM mo)
           |SELECT source, CAST(n AS BIGINT) AS n, round(mxy / mxx, 6) AS slope,
           |  round((mxy * mxy) / (mxx * myy), 6) AS r2
           |FROM d ORDER BY source""".stripMargin,
      "text_vocab" ->
        s"""SELECT CAST(row_number() OVER (ORDER BY c DESC, token) AS INTEGER) AS id, token, c FROM (
           |  SELECT token, count(*) AS c FROM
           |    (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
           |  WHERE token <> '' GROUP BY token ORDER BY c DESC, token LIMIT $vocabSize) v
           |ORDER BY id""".stripMargin,
      "text_token_ids" ->
        s"""WITH vc AS (SELECT token, CAST(row_number() OVER (ORDER BY c DESC, token) AS INTEGER) AS id FROM (
           |  SELECT token, count(*) AS c FROM
           |    (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
           |  WHERE token <> '' GROUP BY token ORDER BY c DESC, token LIMIT $vocabSize) v),
           |ws AS (SELECT doc_id, string_split(lower(text), ' ') AS W FROM documents WHERE doc_id < 20),
           |te AS (SELECT doc_id, unnest(list_transform(range(1, len(W)+1), i -> {'pos': i, 'token': W[i]})) AS e FROM ws),
           |tk AS (SELECT doc_id, e.pos AS pos, e.token AS token FROM te WHERE e.token <> ''),
           |idd AS (SELECT doc_id, pos, COALESCE(id, 0) AS tid FROM tk LEFT JOIN vc USING (token))
           |SELECT doc_id, array_to_string(list(tid ORDER BY pos), ' ') AS ids
           |FROM idd GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "text_lm_score" ->
        s"""${SqlGen.lmPrefix}
          |SELECT doc_id, round(list_sum(list_sort(list(ln(c/tot))))/count(*), 6) AS lm_logp
          |FROM tk JOIN wc USING (w), tot WHERE doc_id < 200
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "text_cms" -> {
        val mask = graft.operators.Dedup.km_mask
        s"""${SqlGen.lmPrefix},
           |hx AS (SELECT w, ('0x'||substr(md5(w),1,15))::BIGINT AS h1,
           |        (('0x'||substr(md5(w),17,15))::BIGINT >> 4) AS h2 FROM tk),
           |ctr AS (SELECT CAST(t.i AS INTEGER) AS row_i,
           |         ((h1 + h2*t.i) & $mask) % $cmsWidth AS bucket, count(*) AS c
           |        FROM hx, range(0, $cmsDepth) t(i) GROUP BY 1, 2),
           |exact AS (SELECT w, count(*) AS exact FROM tk GROUP BY w),
           |top AS (SELECT w, exact FROM exact ORDER BY exact DESC, w LIMIT 10),
           |hxd AS (SELECT DISTINCT w, h1, h2 FROM hx),
           |pr AS (SELECT top.w, top.exact, CAST(t.i AS INTEGER) AS row_i,
           |        ((h1 + h2*t.i) & $mask) % $cmsWidth AS bucket
           |       FROM top JOIN hxd USING (w), range(0, $cmsDepth) t(i)),
           |est AS (SELECT pr.w, max(pr.exact) AS exact, min(ctr.c) AS est
           |        FROM pr JOIN ctr ON ctr.row_i = pr.row_i AND ctr.bucket = pr.bucket
           |        GROUP BY pr.w)
           |SELECT w AS token, CAST(exact AS BIGINT) AS exact,
           |  CAST(est AS BIGINT) AS est, CAST(est - exact AS BIGINT) AS overcount
           |FROM est ORDER BY exact DESC, token""".stripMargin
      },
      "text_heavy" ->
        """SELECT token, c FROM (
          |  SELECT token, count(*) AS c FROM
          |    (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
          |  WHERE token <> '' GROUP BY token) v
          |ORDER BY c DESC, token LIMIT 20""".stripMargin,
      "text_fingerprint" ->
        """SELECT fp, count(*) AS c, min(doc_id) AS keeper FROM
          | (SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text),' '))),' ')) AS fp,
          |         doc_id FROM documents) t
          | GROUP BY fp ORDER BY c DESC, fp LIMIT 50""".stripMargin.replaceAll("\n", ""),
      "text_pmi" ->
        s"""WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
           |uc AS (SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY w),
           |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS T FROM uc),
           |bi AS (SELECT W[i] AS w1, W[i+1] AS w2 FROM
           |  (SELECT W, unnest(range(1, len(W))) AS i FROM
           |    (SELECT string_split(lower(text), ' ') AS W FROM documents) s0) s1
           |  WHERE W[i] <> '' AND W[i+1] <> ''),
           |bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
           |btot AS (SELECT CAST(sum(c) AS DOUBLE) AS B FROM bc)
           |SELECT w1, w2, bc.c AS c,
           |       round(ln(bc.c * T * T / (B * u1.c * u2.c)), 6) AS pmi
           |FROM bc JOIN uc u1 ON u1.w = bc.w1 JOIN uc u2 ON u2.w = bc.w2, tot, btot
           |WHERE bc.c >= $pmiMinCount
           |ORDER BY pmi DESC, w1, w2 LIMIT $pmiTopN""".stripMargin,
      "text_oov" ->
        s"""WITH tok AS (SELECT doc_id, w FROM
           |  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
           |  WHERE w <> ''),
           |v AS (SELECT token FROM (
           |  SELECT w AS token, count(*) AS c FROM tok GROUP BY w
           |  ORDER BY c DESC, token LIMIT $vocabSize) v0),
           |per AS (SELECT doc_id, count(*) AS toks FROM tok GROUP BY doc_id),
           |ov AS (SELECT doc_id, count(*) AS oov FROM tok
           |       WHERE w NOT IN (SELECT token FROM v) GROUP BY doc_id)
           |SELECT p.doc_id, p.toks, coalesce(o.oov, 0) AS oov,
           |       round(coalesce(o.oov, 0) / p.toks, 6) AS oov_rate
           |FROM per p LEFT JOIN ov o USING (doc_id)
           |ORDER BY doc_id LIMIT 200""".stripMargin,
      "text_bigram_lm" ->
        """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
          |uc AS (SELECT w, count(*) AS cu FROM tok WHERE w <> '' GROUP BY w),
          |vn AS (SELECT CAST(count(*) AS DOUBLE) AS V FROM uc),
          |bi AS (SELECT doc_id, W[i] AS w1, W[i+1] AS w2 FROM
          |  (SELECT doc_id, W, unnest(range(1, len(W))) AS i FROM
          |    (SELECT doc_id, string_split(lower(text), ' ') AS W FROM documents) s0) s1
          |  WHERE W[i] <> '' AND W[i+1] <> ''),
          |bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2)
          |SELECT doc_id, round(list_sum(list_sort(list(ln((cb + 1.0)/(cu + V)))))/count(*), 6) AS bigram_logp
          |FROM bi JOIN bc USING (w1, w2) JOIN uc ON uc.w = bi.w1, vn
          |WHERE doc_id < 200
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "chunk_docs" ->
        s"""SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
           | CAST(chunk*$chunkStride AS BIGINT) AS tok_start,
           | CAST(least(chunk*$chunkStride + $chunkToks, toks) AS BIGINT) AS tok_end,
           | array_to_string(W[chunk*$chunkStride + 1 : least(chunk*$chunkStride + $chunkToks, toks)], ' ') AS chunk_text
           | FROM (SELECT doc_id, W, toks, unnest(range(0, nc)) AS chunk FROM
           |  (SELECT doc_id, W, len(W) AS toks,
           |    CASE WHEN len(W) <= $chunkToks THEN 1
           |         ELSE (len(W) - $chunkToks + ${chunkStride - 1}) // $chunkStride + 1 END AS nc
           |   FROM (SELECT doc_id, string_split(text, ' ') AS W FROM documents) t0) t1) t2
           | ORDER BY doc_id, chunk""".stripMargin.replaceAll("\n", ""),
      "text_ttr" ->
        """WITH tk AS (SELECT doc_id, w FROM
          |  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
          |  WHERE w <> '')
          |SELECT doc_id, count(*) AS tokens, count(DISTINCT w) AS types,
          |  round(count(DISTINCT w) / count(*), 6) AS ttr,
          |  round(count(DISTINCT w) / sqrt(count(*)), 6) AS guiraud
          |FROM tk GROUP BY doc_id ORDER BY doc_id LIMIT 200""".stripMargin,
      "text_novelty" ->
        """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS W FROM documents),
          |g AS (SELECT DISTINCT doc_id, W[i]||' '||W[i+1]||' '||W[i+2] AS g
          |  FROM (SELECT doc_id, W, unnest(range(1, len(W)-1)) AS i FROM w
          |        WHERE len(W) >= 3) t),
          |fd AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY g)
          |SELECT g.doc_id, count(*) AS n_grams,
          |  CAST(sum(CASE WHEN fd.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
          |  round(CAST(sum(CASE WHEN fd.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
          |    / count(*), 6) AS novelty
          |FROM g JOIN fd USING (g)
          |GROUP BY g.doc_id ORDER BY doc_id LIMIT 200""".stripMargin,
      "text_gopher" -> {
        val mwlSql =
          "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(W, x -> length(x))) AS DOUBLE)/len(W) END)"
        val g = "list_transform(range(1, len(W)-1), i -> W[i]||' '||W[i+1]||' '||W[i+2])"
        val repSql = s"(CASE WHEN len(W) < 3 THEN 0.0 ELSE 1.0 - len(list_distinct($g))*1.0/(len(W)-2) END)"
        val stopsSql = SqlGen.hitsSql("en")
        s"""SELECT source, count(*) AS docs,
           | count(CASE WHEN t >= $gMinToks AND t <= $gMaxToks THEN 1 END) AS pass_len,
           | count(CASE WHEN m >= $gMinMwl AND m <= $gMaxMwl THEN 1 END) AS pass_mwl,
           | count(CASE WHEN p <= $gMaxPunct THEN 1 END) AS pass_punct,
           | count(CASE WHEN sw >= $gMinStops THEN 1 END) AS pass_stop,
           | count(CASE WHEN r <= $gMaxRep THEN 1 END) AS pass_rep,
           | count(CASE WHEN t >= $gMinToks AND t <= $gMaxToks AND m >= $gMinMwl AND m <= $gMaxMwl
           |   AND p <= $gMaxPunct AND sw >= $gMinStops AND r <= $gMaxRep THEN 1 END) AS kept
           | FROM (SELECT source, $toksSql AS t, $mwlSql AS m, $punctSql AS p,
           |   $stopsSql AS sw, $repSql AS r FROM
           |   (SELECT source, text, string_split(text,' ') AS W FROM documents) w0) d
           | GROUP BY source ORDER BY source""".stripMargin.replaceAll("\n", "")
      })
  }
}
