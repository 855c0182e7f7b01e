package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{FakeDecoder, Media, MediaRecord}
import graft.operators.{Bucketing, Similarity}

/** Multimodal-column queries: binary payloads + typed metadata through the
  * mapPartitions decode/feature/frame operators. The decode itself is the
  * deterministic [[FakeDecoder]] stub (no codecs in this environment), which
  * is exactly what makes a SQL oracle possible: every output is a pure
  * function of md5(payload).
  *
  * Payloads here are the `documents.text` bytes; a real media table swaps the
  * payload source and decoder, not the plumbing.
  */
object MultimodalQueries {

  private def records(s: SparkSession, dir: String) = {
    import s.implicits._
    // r16: the decode layer is a mapPartitions over this source — with the
    // single-row-group testdata file it ran on ONE core; Tables.spread
    // parallelizes the decode (staged-table layout is unaffected since
    // writeBucketed pre-shuffles into its bucket layout)
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id").as("id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Decoded metadata: byte length, checksum, fake dimensions. */
  def meta(s: SparkSession, dir: String): DataFrame =
    Media.decodeMeta(records(s, dir), FakeDecoder)
      .select(col("id").as("doc_id"), col("n_bytes"), col("checksum"),
        col("width"), col("height"))
      .orderBy("doc_id")
      .limit(200)

  /** Feature extraction: 8-dim deterministic pseudo-embedding, flattened to
    * scalar columns (f0..f7) for the oracle compare.
    */
  def features(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = records(s, dir).mapPartitions { it =>
      it.map(r => (r.id, FakeDecoder.features(r.payload, 8)))
    }
    ds.select(col("_1").as("doc_id") +:
        (0 until 8).map(i => col("_2").getItem(i).as(s"f$i")): _*)
      .orderBy("doc_id")
      .limit(200)
  }

  /** Frame sampling: each row fans out to 1-4 frames with checksums. */
  def frames(s: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(records(s, dir), FakeDecoder)
      .select(col("id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_checksum"))
      .orderBy("doc_id", "frame_idx")

  /** `mm_dedup` — content-hash payload dedup audit: the universal first
    * pass of a multimodal pipeline ("how many uploads are byte-identical;
    * how many bytes does keeping one of each save"). Rides the decode
    * layer's checksum (so a real pipeline dedups on the DECODED canonical
    * bytes, surviving container-level noise a raw-byte hash would miss),
    * then two partial-aggregable rollups to ONE audit row — payload count,
    * distinct payloads, duplicate groups, and the byte savings of keeping
    * one representative per group (the number a storage owner acts on).
    */
  def dedup(s: SparkSession, dir: String): DataFrame =
    Media.decodeMeta(records(s, dir), FakeDecoder)
      .groupBy("checksum")
      .agg(count(lit(1)).as("n_copies"), sum("n_bytes").as("b"),
        max("n_bytes").as("b1"))
      .agg(sum("n_copies").as("payloads"),
        count(lit(1)).as("distinct_payloads"),
        count(when(col("n_copies") >= 2, 1)).as("dup_groups"),
        sum(col("b") - col("b1")).as("reclaimable_bytes"))

  /** Media type filter + probe width for [[search]] — the C168 filtered-IVF
    * compensation (more lists, each still bucket-pruned).
    */
  val searchKind = "video"
  val searchNprobe = 4
  val searchK = 10

  /** Deterministic media TYPE from the decoded checksum's first hex digit —
    * the stand-in for a real container's MIME sniff, derived through the
    * decode layer so it is a pure function of the canonical bytes (and
    * therefore oracle-expressible).
    */
  private def kindOf(checksum: org.apache.spark.sql.Column) = {
    val nib = conv(substring(checksum, 1, 1), 16, 10).cast("int") % 3
    when(nib === 0, "image").when(nib === 1, "audio").otherwise("video")
  }

  /** Per-doc media catalog derived THROUGH the decode layer — (doc_id,
    * kind, checksum, media_bytes): the typed-metadata columns a training
    * dump carries alongside each curated document's packed windows
    * (`pipeline_mm_dump`). Kind and checksum are pure functions of the
    * canonical decoded bytes, so the catalog is oracle-expressible.
    */
  private[queries] def mediaCatalog(s: SparkSession, dir: String): DataFrame =
    Media.decodeMeta(records(s, dir), FakeDecoder)
      .select(col("id").as("doc_id"), kindOf(col("checksum")).as("kind"),
        col("checksum"), col("n_bytes").as("media_bytes"))

  /** The media-embedding corpus: decoded payload metadata joined to the
    * embedding table on id — the cross-modal link (each media row's vector
    * lives in the same space as every other modality's).
    */
  private def mediaEmb(s: SparkSession, dir: String): DataFrame =
    Media.decodeMeta(records(s, dir), FakeDecoder)
      .select(col("id"), kindOf(col("checksum")).as("kind"))
      .join(Tables.embeddings(s, dir).select("vec_id", "embedding"),
        col("id") === col("vec_id"))
      .select(col("vec_id"), col("kind"), col("embedding"))

  /** The probe-selection PREFIX of [[mediaEmb]]: only the centroid-prefix
    * payloads decode (r15 — `mapPartitions` is a pushdown barrier, so
    * filtering [[mediaEmb]] AFTER the decode paid a full-corpus decode per
    * probe construction just to read 16 bounded model rows; the filter
    * must reach the record source itself). Same derivation — decode, join
    * to embeddings — over ≤ [[Similarity.ivfCentroids]] records, so the
    * staged-list desync guard the join provides is preserved.
    */
  private def mediaEmbPrefix(s: SparkSession, dir: String): DataFrame =
    Media.decodeMeta(
        records(s, dir).filter(col("id") < SimilarityQueries.adaptiveKc(s, dir)),
        FakeDecoder)
      .select(col("id"))
      .join(Tables.embeddings(s, dir).select("vec_id", "embedding"),
        col("id") === col("vec_id"))
      .select(col("vec_id"), col("embedding"))

  /** The staged media ANN index: inverted lists bucketed by `cid` with the
    * media KIND staged into the rows (the C168 payload-in-index shape), so
    * a typed probe prunes to its lists AND applies the kind predicate
    * inside the pruned scan. Cross-JVM reuse via Staging fingerprints.
    */
  private def mediaAnnTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "mm_ann") { tag =>
      val kc = SimilarityQueries.adaptiveKc(s, dir)
      val t = s"graft_mm_ann_k${kc}_$tag"
      Staged(Seq(t), s"mm_ann:k$kc:pl_kind:v2") {
        val me = mediaEmb(s, dir)
        Similarity.stageIvfBucketed(me, Similarity.standInCentroids(me, kc), t,
          buckets = kc, payloadCols = Seq("kind"))
      }
    }.head

  /** `mm_search` — CROSS-MODAL retrieval (r12 verdict item 3): the
    * multimodal family previously stored, decoded, and deduped payloads but
    * never SERVED them. A query embedding probes the staged media ANN index
    * for the top-[[searchK]] nearest payloads OF A GIVEN MEDIA TYPE
    * ([[searchKind]]) — "find videos similar to this image" — with the
    * kind predicate applied inside the bucket-pruned inverted-list scan
    * (≤ [[searchNprobe]] of the cid buckets read, plan-audited). Probe-list
    * selection runs over the bounded centroid artifact, like every staged
    * ANN arm.
    */
  def search(s: SparkSession, dir: String): DataFrame = {
    val t = mediaAnnTable(s, dir)
    // query vector off the raw prefix artifact (vec 0 is inside it);
    // probe-list selection over the SAME centroid artifact the index was
    // staged with (the joined media corpus's prefix — using the raw
    // embeddings prefix would desync from the staged lists if a doc id
    // were absent from the join); only the prefix records decode (r15),
    // and the collected artifact is session-cached (r16) so the selection
    // costs zero Spark jobs
    val qe = SimilarityQueries.queryVecFromArtifact(
      SimilarityQueries.centArtifact(s, dir, Similarity.ivfCentroids), 0L)
    val (ids, vecs) = mmCentArt(s, dir)
    val probeCids = Similarity.nearestCidsFor(qe, ids, vecs, searchNprobe)
    Similarity.probeStagedIvfFiltered(s, t, qe, probeCids,
      col("kind") === searchKind && col("vec_id") =!= 0, k = searchK)
  }

  /** `mm_recall` — recall@[[searchK]] of the typed media probe against the
    * exact brute-force cosine top-k AMONG the kind-scoped population (the
    * r13 verdict's item 1: the media arm was the only served ANN arm
    * without a reading, and the filtered-LSH arm measured 0.0 at sf1 AFTER
    * shipping with a clean plan audit — unmeasured arms hide surprises).
    * Ground truth is kind-scoped, like every filtered-recall row: the
    * metric must interrogate the INDEX, not punish the predicate. Both
    * arms end in bounded top-k, so the intersection join is 2·k rows at
    * any corpus size; the cost is the one calibration scan of the exact
    * arm.
    */
  def searchRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = Similarity.exactTopK(
      mediaEmb(s, dir).filter(col("kind") === searchKind && col("vec_id") =!= 0),
      Similarity.queryRow(Tables.embeddings(s, dir), 0L), searchK)
    Similarity.recallAt(exact, search(s, dir), searchK)
  }

  /** Per-FRAME pseudo-embedding (8 dims) from a frame checksum — the
    * [[FakeDecoder.features]] arithmetic applied to the frame's canonical
    * hex digest, scan-local (conv/substring — codegen'd, no UDF). Values
    * are exact dyadic rationals ((k−128)/128), so the float cast loses
    * nothing and the DOUBLE-computed oracle matches bit-for-bit.
    */
  private def frameVec(cs: org.apache.spark.sql.Column) =
    array((0 until 8).map(i =>
      ((conv(substring(cs, 1 + 2 * i, 2), 16, 10).cast("int") - 128) / 128.0)
        .cast("float")): _*)

  /** The frame-level media corpus: every payload's sampled frames, each
    * carrying its own vector in a shared 8-dim space plus the parent doc's
    * kind — the multi-vector representation late-interaction retrieval
    * ranks over ([[searchMaxSim]]).
    */
  private def frameEmb(s: SparkSession, dir: String): DataFrame = {
    val fr = Media.sampleFrames(records(s, dir), FakeDecoder)
      .select(col("id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_checksum"))
    val kinds = Media.decodeMeta(records(s, dir), FakeDecoder)
      .select(col("id").as("doc_id"), kindOf(col("checksum")).as("kind"))
    fr.join(kinds, "doc_id")
      .select(col("doc_id"), col("frame_idx"), col("kind"),
        frameVec(col("frame_checksum")).as("fv"))
  }

  /** Driver-collected media-prefix centroid artifact (pooled arm), cached
    * per (session, dir) like the sim family's prefix artifact — the kc
    * decoded prefix rows the staged media lists were built from. Probe
    * selection then costs zero Spark jobs ([[Similarity.nearestCidsFor]],
    * the spec-pinned TakeOrdered replacement).
    */
  private def mmCentArt(s: SparkSession, dir: String): (Seq[Long], Seq[Seq[Float]]) =
    BackboneRegistry.scalarOrBuild(s, s"mmcentart:$dir") {
      Similarity.collectCent(Similarity.standInCentroids(mediaEmbPrefix(s, dir),
        SimilarityQueries.adaptiveKc(s, dir)))
    }

  /** Driver-collected FRAME-prefix artifact (multi-vector arm): the
    * decoded prefix frames, (doc_id, frame_idx, fv) ascending.
    */
  private def mmFrameArt(s: SparkSession, dir: String): Seq[(Long, Long, Seq[Float])] =
    BackboneRegistry.scalarOrBuild(s, s"mmframeart:$dir") {
      frameEmbPrefix(s, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    }

  /** The probe-selection PREFIX of [[frameEmb]]: frames of the centroid-
    * prefix payloads only (which include the query payload 0) — decoding
    * ≤ 16 records instead of the corpus, for the same pushdown-barrier
    * reason as [[mediaEmbPrefix]]. Kind is irrelevant to probe selection,
    * so the decode-kind join drops too.
    */
  private def frameEmbPrefix(s: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(
        records(s, dir).filter(col("id") < SimilarityQueries.adaptiveKc(s, dir)),
        FakeDecoder)
      .select(col("id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        frameVec(col("frame_checksum")).as("fv"))

  /** The staged FRAME-level media ANN index (r14 verdict item 5): one row
    * per frame (≤ 4 per payload), inverted-list id from the frame vector's
    * nearest centroid, `kind` staged into the rows — the same kind-payload
    * IVF layout as [[mediaAnnTable]], at frame granularity. `fid` packs
    * (doc_id, frame_idx) into the unique row id the staging argmax groups
    * by (frame_idx < 4 by the decoder's contract).
    */
  private def mediaFrameAnnTable(s: SparkSession, dir: String): String =
    BackboneRegistry.staged(s, dir, "mm_fann") { tag =>
      val kc = SimilarityQueries.adaptiveKc(s, dir)
      val t = s"graft_mm_fann_k${kc}_$tag"
      Staged(Seq(t), s"mm_fann:k$kc:pl_kind:v2") {
        val fe = frameEmb(s, dir)
          .withColumn("fid", col("doc_id") * 4 + col("frame_idx"))
        val cent = Similarity.standInCentroids(fe.filter(col("frame_idx") === 0), kc,
          "doc_id", "fv")
        Similarity.stageIvfBucketed(fe, cent, t, buckets = kc, idCol = "fid",
          vecCol = "fv", payloadCols = Seq("doc_id", "frame_idx", "kind"))
      }
    }.head

  /** `mm_search_maxsim` — MULTI-VECTOR media retrieval (r14 verdict item
    * 5): [[search]] ranks one pooled vector per payload, which washes out
    * partial matches (one matching frame inside an otherwise-different
    * video); this serves the late-interaction shape instead. The query is
    * a SET (payload 0's frames); each query frame selects its 2 nearest
    * inverted lists (union, still bounded literal cids → bucket-pruned
    * scan); candidates are the probed lists' kind-matching frames; a
    * payload scores `Σ_q max_f dot(q, f)` over its RETRIEVED frames — the
    * C87 MaxSim aggregation, here over an index probe instead of a corpus
    * scan. Determinism: per-(payload, query-frame) maxima are 6-rounded
    * and summed as DECIMAL (order-independent), exactly like `sim_maxsim`.
    */
  def searchMaxSim(s: SparkSession, dir: String): DataFrame = {
    val t = mediaFrameAnnTable(s, dir)
    // per-query-frame top-[[searchNprobe]] lists, unioned — the same
    // selection the window formulation computed, now off the collected
    // frame-prefix artifact (r16): per qid, nearestCidsFor is the
    // spec-pinned (qcos DESC, cid ASC) top-nprobe, then union-distinct.
    val art = mmFrameArt(s, dir)
    val centRows = art.filter(_._2 == 0L).map(t3 => (t3._1, t3._3))
    val (cids, cvecs) = (centRows.map(_._1), centRows.map(_._2))
    val qFrames = art.filter(_._1 == 0L).map(t3 => (t3._2, t3._3))
    val probeCids = qFrames
      .flatMap { case (_, qv) =>
        Similarity.nearestCidsFor(qv.toArray, cids, cvecs, searchNprobe)
      }
      .distinct.sorted
    maxSimOf(s, dir, Bucketing.read(s, t).filter(col("cid").isin(probeCids: _*)))
  }

  /** MaxSim top-[[searchK]] of the kind-scoped payloads among `frames`
    * against payload 0's frame set ([[Similarity.maxSimTopK]]) — the served
    * arm passes its probed lists' frames, the exact truth every frame.
    */
  private def maxSimOf(s: SparkSession, dir: String, frames: DataFrame): DataFrame = {
    import s.implicits._
    val q = mmFrameArt(s, dir).filter(_._1 == 0L).map(t3 => (t3._2, t3._3))
      .toDF("qid", "qv")
    Similarity.maxSimTopK(
      frames.filter(col("kind") === searchKind && col("doc_id") =!= 0),
      q, searchK, "doc_id", "fv", "qv")
  }

  /** `mm_recall_maxsim` — the MaxSim arm's reading against the EXACT
    * MaxSim truth (every served arm carries one): ground truth scores
    * every kind-scoped payload over ALL its frames (no probe restriction),
    * so the number prices exactly what list-pruning costs the
    * late-interaction ranking — a frame assigned to an unprobed list is
    * invisible to the approximate arm's max.
    */
  def searchMaxSimRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAt(maxSimOf(s, dir, frameEmb(s, dir)), searchMaxSim(s, dir),
      searchK, idCol = "doc_id")

  /** Shared DuckDB CTE block for the media ANN arm: the decoded-kind
    * corpus, its centroid prefix, list assignment, the query row, and the
    * probe-list selection — `mm_search` appends the probe read; `mm_recall`
    * appends probe + exact truth + the recall rollup. One text, so the two
    * oracles cannot drift.
    */
  private def searchCtes(kc: Int): String =
    s"""WITH me AS (SELECT e.vec_id, e.embedding,
       |    CASE (('0x'||substr(md5(d.text),1,1))::INT % 3)
       |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |cent AS (SELECT vec_id AS cid, embedding AS ce FROM me WHERE vec_id < $kc),
       |asn AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM
       |  (SELECT m.vec_id, c.cid, ${SqlGen.cosSql("m.embedding", "c.ce")} AS ccos FROM me m, cent c) t),
       |a AS (SELECT vec_id, cid FROM asn WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qprobe AS (SELECT cid FROM
       |  (SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${SqlGen.cosSql("c.ce", "q.qe")} DESC, c.cid) AS rn
       |   FROM cent c, q) t WHERE rn <= $searchNprobe),
       |probe AS (SELECT m.vec_id, round(${SqlGen.cosSql("m.embedding", "q.qe")}, 6) AS cos_sim
       |  FROM me m JOIN a ON a.vec_id = m.vec_id JOIN qprobe p ON p.cid = a.cid, q
       |  WHERE m.kind = '$searchKind' AND m.vec_id <> 0
       |  ORDER BY cos_sim DESC, m.vec_id LIMIT $searchK)""".stripMargin

  /** Shared DuckDB CTE block for the FRAME-level MaxSim arm: frame fan-out
    * (the `mm_frames` derivation), per-frame vectors (the `mm_features`
    * arithmetic over the frame checksum), centroid prefix, frame→list
    * assignment, the query frame SET, per-query-frame probe-list union,
    * and the probed MaxSim ranking — `mm_search_maxsim` reads the ranking
    * off it; `mm_recall_maxsim` appends the exact-truth arm and the recall
    * rollup. One text, so the two oracles cannot drift.
    */
  private def maxSimCtes(kc: Int): String = {
    val vecExpr = (0 until 8)
      .map(i => s"(('0x'||substr(fcs,${1 + 2 * i},2))::INT - 128)/128.0")
      .mkString("[", ", ", "]")
    s"""WITH m AS (SELECT doc_id, md5(text) AS h,
       |    CASE (('0x'||substr(md5(text),1,1))::INT % 3)
       |      WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind
       |  FROM documents),
       |n AS (SELECT doc_id, h, kind, ('0x'||substr(h,5,1))::INT % 4 + 1 AS nf FROM m),
       |f AS (SELECT doc_id, kind, h, unnest(range(0, nf)) AS frame_idx FROM n),
       |fv AS MATERIALIZED (SELECT doc_id, kind, frame_idx, $vecExpr AS v FROM
       |  (SELECT doc_id, kind, frame_idx, md5(h||':'||frame_idx) AS fcs FROM f) t),
       |cent AS (SELECT doc_id AS cid, v AS ce FROM fv
       |         WHERE doc_id < $kc AND frame_idx = 0),
       |asn AS (SELECT doc_id, frame_idx, cid FROM
       |  (SELECT e.doc_id, e.frame_idx, c.cid, ROW_NUMBER() OVER (PARTITION BY e.doc_id, e.frame_idx
       |     ORDER BY ${SqlGen.cosSql("e.v", "c.ce", 8)} DESC, c.cid) AS rn
       |   FROM fv e, cent c) t WHERE rn = 1),
       |q AS (SELECT frame_idx AS qid, v AS qv FROM fv WHERE doc_id = 0),
       |qp AS (SELECT DISTINCT cid FROM
       |  (SELECT q.qid, c.cid, ROW_NUMBER() OVER (PARTITION BY q.qid
       |     ORDER BY ${SqlGen.cosSql("c.ce", "q.qv", 8)} DESC, c.cid) AS rn
       |   FROM cent c, q) t WHERE rn <= $searchNprobe),
       |probe AS (SELECT doc_id, round(CAST(sdec AS DOUBLE), 6) AS maxsim FROM
       |  (SELECT doc_id, sum(CAST(round(mx, 6) AS DECIMAL(18,6))) AS sdec FROM
       |    (SELECT e.doc_id, q.qid, max(${SqlGen.dotSql("e.v", "q.qv", 8)}) AS mx
       |     FROM fv e JOIN asn a ON a.doc_id = e.doc_id AND a.frame_idx = e.frame_idx
       |          JOIN qp p ON p.cid = a.cid, q
       |     WHERE e.kind = '$searchKind' AND e.doc_id <> 0
       |     GROUP BY e.doc_id, q.qid) t1 GROUP BY doc_id) t2
       |  ORDER BY maxsim DESC, doc_id LIMIT $searchK)""".stripMargin
  }

  def oracle(dir: String): Map[String, String] = {
    // the media arms stage at the dir's resolved list count (r16); the
    // oracle texts render the SAME count, like every adaptive sim_* arm
    val kc = SimilarityQueries.adaptiveKcForOracle(dir)
    Map(
    "mm_search_maxsim" -> s"""${maxSimCtes(kc)}
         |SELECT doc_id, maxsim FROM probe
         |ORDER BY maxsim DESC, doc_id""".stripMargin,
    "mm_recall_maxsim" -> s"""${maxSimCtes(kc)},
         |exd AS (SELECT doc_id, round(CAST(sum(CAST(round(mx, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS maxsim FROM
         |  (SELECT e.doc_id, q.qid, max(${SqlGen.dotSql("e.v", "q.qv", 8)}) AS mx
         |   FROM fv e, q WHERE e.kind = '$searchKind' AND e.doc_id <> 0
         |   GROUP BY e.doc_id, q.qid) t GROUP BY doc_id),
         |exact AS (SELECT doc_id FROM
         |  (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY maxsim DESC, doc_id) AS rn FROM exd) t
         |  WHERE rn <= $searchK)
         |SELECT $searchK AS k, hits, round(hits / $searchK.0, 6) AS recall FROM
         |  (SELECT count(*) AS hits FROM exact JOIN probe USING (doc_id)) t""".stripMargin,
    "mm_search" -> s"""${searchCtes(kc)}
         |SELECT vec_id, cos_sim FROM probe
         |ORDER BY cos_sim DESC, vec_id""".stripMargin,
    "mm_recall" -> s"""${searchCtes(kc)},
         |exact AS (SELECT vec_id FROM
         |  (SELECT m.vec_id, row_number() OVER (ORDER BY round(${SqlGen.cosSql("m.embedding", "q.qe")}, 6) DESC, m.vec_id) AS rn
         |   FROM me m, q WHERE m.kind = '$searchKind' AND m.vec_id <> 0) t
         |  WHERE rn <= $searchK)
         |SELECT $searchK AS k, hits, round(hits / $searchK.0, 6) AS recall FROM
         |  (SELECT count(*) AS hits FROM exact JOIN probe USING (vec_id)) t""".stripMargin,
    "mm_dedup" ->
      """WITH g AS (SELECT md5(text) AS checksum, count(*) AS n_copies,
        |  sum(octet_length(encode(text))) AS b,
        |  max(octet_length(encode(text))) AS b1 FROM documents GROUP BY 1)
        |SELECT CAST(sum(n_copies) AS BIGINT) AS payloads,
        |  count(*) AS distinct_payloads,
        |  count(CASE WHEN n_copies >= 2 THEN 1 END) AS dup_groups,
        |  CAST(sum(b - b1) AS BIGINT) AS reclaimable_bytes
        |FROM g""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum, ('0x'||substr(md5(text),1,2))::INT AS width,
        | ('0x'||substr(md5(text),3,2))::INT AS height
        | FROM documents ORDER BY doc_id LIMIT 200""".stripMargin.replaceAll("\n", ""),
    "mm_features" ->
      (0 until 8).map(i =>
          s"(('0x'||substr(md5(text),${1 + 2 * i},2))::INT - 128)/128.0 AS f$i")
        .mkString("SELECT doc_id, ", ", ", " FROM documents ORDER BY doc_id LIMIT 200"),
    "mm_frames" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
        |n AS (SELECT doc_id, h, ('0x'||substr(h,5,1))::INT % 4 + 1 AS nf FROM m),
        |f AS (SELECT doc_id, h, unnest(range(0, nf)) AS frame_idx FROM n)
        |SELECT doc_id, frame_idx, md5(h||':'||frame_idx) AS frame_checksum
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin)
  }
}
