package graft.queries

import graft.functions.TextFunctions

/** DuckDB SQL fragments mirroring the Scala Column builders, generated from
  * the same constants (stopword lists, hash seeds, band layout) so the two
  * sides cannot drift.
  */
object SqlGen {

  /** Dot product of two FLOAT[] expressions, computed in DOUBLE with
    * left-to-right summation — same fold order as Spark's `aggregate` /
    * FloatDotProduct.
    */
  def dotSql(a: String, b: String, dims: Int = 64): String =
    s"list_sum(list_transform(range(1, ${dims + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** Cosine similarity over [[dotSql]], with the same zero-vector guard as
    * VectorOps.cosine.
    */
  def cosSql(a: String, b: String, dims: Int = 64): String = {
    def dot(x: String, y: String) = dotSql(x, y, dims)
    s"(CASE WHEN sqrt(${dot(a, a)}) = 0 OR sqrt(${dot(b, b)}) = 0 THEN 0.0" +
      s" ELSE ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) END)"
  }

  /** Stopword token hits for a language (mirror of the single-tokenization
    * TextFunctions.stopwordHits).
    */
  def hitsSql(lang: String): String = {
    val set = TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text,' '), t -> t IN ($set)))"
  }

  /** Mirror of TextFunctions.langId. */
  def langIdSql: String = {
    val (en, es, de, fr) = (hitsSql("en"), hitsSql("es"), hitsSql("de"), hitsSql("fr"))
    s"""CASE WHEN ($en + $es + $de + $fr) = 0 THEN 'und'
       | WHEN $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
       | WHEN $es >= $de AND $es >= $fr THEN 'es'
       | WHEN $de >= $fr THEN 'de' ELSE 'fr' END""".stripMargin.replaceAll("\n", "")
  }

  /** Distinct word-3-shingle HASHES (doc_id, m=md5(shingle)) CTE body over
    * `documents` — mirror of Dedup.shingleHashes(...).distinct().
    */
  def shinglesSql(n: Int = 3): String =
    s"""SELECT DISTINCT doc_id, md5(shingle) AS m FROM
       | (SELECT doc_id, unnest(list_transform(range(1, len(W)-${n - 2}),
       |  i -> ${(0 until n).map(j => s"W[i+$j]").mkString("||' '||")})) AS shingle
       |  FROM (SELECT doc_id, string_split(text,' ') AS W FROM documents
       |        WHERE len(string_split(text,' ')) >= $n)) shsrc""".stripMargin.replaceAll("\n", "")

  /** MinHash signature CTE body (mirror of Dedup.minhashSignatures:
    * Kirsch-Mitzenmacher `h_i = (h1 + i*(h2>>4)) & mask` over the two halves
    * of the staged per-shingle md5 `m`).
    */
  def minhashSql(k: Int = 16): String = {
    val mask = graft.operators.Dedup.km_mask
    val mins = (0 until k)
      .map(i => s"min((h1 + h2*$i) & $mask) AS sig_$i").mkString(", ")
    s"""SELECT doc_id, $mins FROM
       | (SELECT doc_id, ('0x'||substr(m,1,15))::BIGINT AS h1,
       |         (('0x'||substr(m,17,15))::BIGINT >> 4) AS h2 FROM sh) hsrc
       | GROUP BY doc_id""".stripMargin.replaceAll("\n", "")
  }

  /** LSH bands as UNION ALL over the signature CTE `hs`. */
  def bandsSql(bandsN: Int = 8, r: Int = 2): String =
    (0 until bandsN).map { j =>
      val cat = (0 until r).map(i => s"sig_${j * r + i}").mkString("||','||")
      s"SELECT doc_id, $j AS band, md5($cat) AS bh FROM hs"
    }.mkString(" UNION ALL ")

  /** Rows of the banded CTE `src` (keyed by band + `valCol`) surviving the
    * per-bucket occupancy cap — mirror of Dedup's hot-bucket anti-join.
    */
  def prunedBucketsSql(src: String, valCol: String, cap: Int): String =
    s"""SELECT * FROM $src p WHERE NOT EXISTS
       | (SELECT 1 FROM (SELECT band, $valCol, count(*) AS occ FROM $src
       |                 GROUP BY band, $valCol) h
       |  WHERE h.occ > $cap AND h.band = p.band AND h.$valCol = p.$valCol)""".stripMargin.replaceAll("\n", "")

  /** Candidate pairs from the capped bands CTE `pruned`. */
  val candidatePairsSql: String =
    """SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      | FROM pruned a JOIN pruned b
      |   ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin.replaceAll("\n", "")

  /** Full WITH-prefix for minhash candidates: sh, hs, bands, pruned, cands. */
  def minhashPrefix(n: Int = 3, k: Int = 16, bandsN: Int = 8,
                    cap: Int = graft.operators.Dedup.defaultBucketCap): String =
    s"""WITH sh AS (${shinglesSql(n)}),
       |hs AS (${minhashSql(k)}),
       |bands AS (${bandsSql(bandsN, k / bandsN)}),
       |pruned AS (${prunedBucketsSql("bands", "bh", cap)}),
       |cands AS ($candidatePairsSql)""".stripMargin

  /** Token count / punctuation ratio / stopword ratio / composite quality —
    * the DuckDB rendering of `TextFunctions.qualityScore`, shared by every
    * oracle that scores text (curation, weighted sampling, keep-best).
    */
  val toksSql = "len(string_split(text,' '))"
  val punctSql =
    "(CASE WHEN length(text) = 0 THEN 0.0 ELSE (length(text)-length(regexp_replace(text,'[.,;:!?]','','g')))*1.0/length(text) END)"
  def swrSql: String = s"CAST(${hitsSql("en")} AS DOUBLE)/$toksSql"
  def qualitySql: String =
    s"(least($toksSql/100.0, 1.0)*0.4 + (1.0 - $punctSql)*0.3 + least($swrSql*5.0, 1.0)*0.3)"

  /** Unigram-LM scoring CTEs (tokens, counts, total) — shared by the
    * text_lm_score oracle and every composition that scores docs by corpus
    * log-probability (curriculum phasing).
    */
  val lmPrefix: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |tk AS (SELECT doc_id, w FROM tok WHERE w <> ''),
      |wc AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM wc)""".stripMargin

  /** SimHash per-doc CTE chain: toks -> votes -> sims(doc_id, simhash).
    *
    * Mirror of Dedup.simhash: 64 hash bits from two 32-bit md5 halves (each
    * safely inside signed BIGINT), fingerprint assembled by summation with
    * the bit-63 term (`Long.MinValue`, written as -(2^63-1)-1 because the
    * positive literal doesn't fit BIGINT) added FIRST — partial sums then
    * stay in signed-64 range, which matters because DuckDB checks overflow.
    */
  def simhashPrefix(bits: Int = graft.operators.Dedup.simhashBits): String = {
    def bitExpr(b: Int) = if (b < 32) s"(hlo >> $b)" else s"(hhi >> ${b - 32})"
    val votes = (0 until bits)
      .map(b => s"sum(CASE WHEN ${bitExpr(b)} & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val fp = (bits - 1 to 0 by -1)
      .map { b =>
        val pow = if (b == 63) "(-9223372036854775807 - 1)" else s"${1L << b}"
        s"CASE WHEN v$b > 0 THEN $pow ELSE 0 END"
      }
      .mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, ('0x'||substr(m,1,8))::BIGINT AS hlo,
       | ('0x'||substr(m,9,8))::BIGINT AS hhi FROM
       | (SELECT doc_id, md5(tok||'#0') AS m FROM
       |   (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) t0 WHERE tok <> '') t),
       |votes AS (SELECT doc_id, $votes FROM toks GROUP BY doc_id),
       |sims AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin.replaceAll("\n", "")
  }
}
