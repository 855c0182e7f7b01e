package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the `documents` corpus: language ID,
  * quality scoring, token counting, fingerprinting (SURVEY Layer C11 + the
  * training-data-pipeline extensions).
  *
  * Every function is pure Catalyst expression composition (codegen-friendly,
  * no UDFs) and is written to have an exact SQL rendering in the DuckDB
  * oracle: only `replace`/`length` arithmetic, `md5`, `split`, and simple
  * regexes with identical semantics in Java regex and RE2.
  */
object TextFunctions {

  /** Occurrences of `needle` in `hay` by replace-counting — identical
    * left-to-right non-overlapping semantics in every SQL engine.
    */
  def occurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(replace(hay, lit(needle), lit("")))) / needle.length).cast("long")

  /** Whitespace tokens (the corpus is single-space separated). */
  def wsTokens(c: Column): Column = split(c, " ")

  def tokenCount(c: Column): Column = size(wsTokens(c)).cast("long")

  /** BPE-ish token count: maximal runs of letters or digits on the lowered
    * text (`[a-z]+|[0-9]+` means the same thing in Java regex and RE2).
    */
  def regexTokenCount(c: Column): Column = regexp_count(lower(c), lit("[a-z]+|[0-9]+"))

  /** Tiny per-language stopword inventories for the n-gram-free heuristic
    * language ID.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("la", "el", "de", "y", "es"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"))

  /** Number of stopword TOKENS for one language: tokenize once, count set
    * membership — O(tokens) per doc, versus the padded-substring
    * replace-count this replaces, which rescanned the full text once per
    * stopword per language (O(len × words × langs) across langId). Catalyst
    * subexpression elimination shares the single `split` across the four
    * languages' counts.
    */
  def stopwordHits(text: Column, lang: String): Column =
    stopwordHitsOf(wsTokens(text), lang)

  /** PII redaction patterns. Conservative character classes only — `\d`,
    * `\b` (ASCII word boundary), literal classes and bounded repetition mean
    * the same thing in Java regex and RE2, so the oracle can mirror them
    * verbatim. Order matters: emails first (their local parts may contain
    * digit runs a later pattern would mangle), then dotted IPv4, then dashed
    * phone numbers, then any remaining digit run.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val digitRunRe = "\\d+"

  /** Redact PII-shaped spans: emails, IPv4 addresses, phone numbers, and
    * (optionally) residual digit runs, replaced by stable tags so downstream
    * dedup/fingerprinting still aligns redacted copies. Pure
    * `regexp_replace` chain — codegen'd, O(len) per doc, embarrassingly
    * parallel: the curation scan stage applies it in-line with no shuffle.
    */
  def redact(c: Column, maskDigits: Boolean = true): Column = {
    val pii = regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(emailRe), lit("[EMAIL]")),
        lit(ipRe), lit("[IP]")),
      lit(phoneRe), lit("[PHONE]"))
    if (maskDigits) regexp_replace(pii, lit(digitRunRe), lit("#")) else pii
  }

  /** Heuristic language ID: argmax of stopword hits with deterministic
    * priority en > es > de > fr; zero hits everywhere -> 'und' (undetermined,
    * the BCP-47 convention).
    */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, "en"); val es = stopwordHits(text, "es")
    val de = stopwordHits(text, "de"); val fr = stopwordHits(text, "fr")
    when(en + es + de + fr === 0, lit("und"))
      .when(en >= es && en >= de && en >= fr, lit("en"))
      .when(es >= de && es >= fr, lit("es"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Punctuation character ratio over total length (0.0 for empty text —
    * guarded identically in the oracle SQL, since Spark would yield NULL and
    * DuckDB NaN on the bare division).
    */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise((length(c) - length(regexp_replace(c, "[.,;:!?]", ""))).cast("double") / length(c))

  /** English-stopword token ratio. */
  def stopwordRatio(c: Column): Column =
    stopwordHits(c, "en").cast("double") / tokenCount(c)

  /** Composite quality score in [0,1]: enough tokens, little punctuation,
    * natural stopword density.
    */
  def qualityScore(c: Column): Column =
    least(tokenCount(c).cast("double") / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - punctRatio(c)) * 0.3 +
      least(stopwordRatio(c) * 5.0, lit(1.0)) * 0.3

  /** Key-collapsing fingerprint (the OpenRefine "fingerprint" method): sorted
    * distinct lowered words, md5'd. Collisions = same word set = candidate
    * duplicates.
    */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(lower(c), " ")))))

  /** Rolling-hash (Karp-Rabin) document fingerprint: min 32-bit polynomial
    * hash over all `window`-char substrings, via the native codegen'd
    * [[graft.expressions.RollingHashMin]] (O(len) rolling update, no
    * re-hash per window).
    */
  def rollingFingerprint(c: Column, window: Int = 8): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.expressions.RollingHashMin(ColumnBridge.expression(c), window))
  }

  /** Word n-grams of a token array as an array column (empty array when
    * the doc is shorter than n words).
    */
  private def ngramsOf(w: Column, n: Int): Column =
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))

  /** Intra-document repetition: fraction of n-gram OCCURRENCES that are
    * duplicates of an earlier one (`1 - distinct/total`) — the Gopher-style
    * repetition signal used to drop boilerplate/spam. 0.0 for docs too short
    * to have an n-gram.
    *
    * The total occurrence count is plain token arithmetic
    * (`size(tokens) - n + 1`), so the (expensive) n-gram materialization is
    * evaluated exactly once — for the distinct count — instead of once per
    * size() probe.
    */
  def dupNgramFrac(c: Column, n: Int = 3): Column = dupNgramFracOf(wsTokens(c), n)

  /** Mean word length in characters (0.0 for empty text) — short-mean docs
    * are symbol soup, long-mean docs are URLs/minified code.
    */
  def meanWordLen(c: Column): Column = meanWordLenOf(c, wsTokens(c))

  // ---- token-array variants ------------------------------------------------
  //
  // Each signal above re-derives `split(text, " ")` inside its own
  // conditional, and codegen's common-subexpression elimination does not
  // reliably share work that only occurs in `CASE WHEN` branches — so a
  // multi-signal projection (the Gopher gate computes five) can re-split
  // every doc several times per row. Callers computing 2+ signals should
  // project `wsTokens(text)` ONCE as its own column and feed it here:
  // CollapseProject keeps a non-cheap projection that is referenced more
  // than once, so the split runs exactly once per row and each signal reads
  // the materialized array. Values are bit-identical to the single-column
  // forms (which now delegate).

  def tokenCountOf(w: Column): Column = size(w).cast("long")

  def stopwordHitsOf(w: Column, lang: String): Column =
    size(filter(w, t => t.isin(stopwords(lang): _*))).cast("long")

  def meanWordLenOf(text: Column, w: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(aggregate(w, lit(0.0), (a, x) => a + length(x)) / tokenCountOf(w))

  def dupNgramFracOf(w: Column, n: Int = 3): Column = {
    val total = size(w) - (n - 1)
    when(total <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(ngramsOf(w, n))).cast("double") / total.cast("double"))
  }

  /** Distinct word-n-gram count as an exact integer (0 for docs shorter than
    * `n` words) — the numerator of [[dupNgramFracOf]] kept in the integer
    * domain, for consumers (the classifier's engine-exact feature chain)
    * that must never round a double.
    */
  def distinctNgramCountOf(w: Column, n: Int = 3): Column =
    size(array_distinct(ngramsOf(w, n))).cast("long")
}
