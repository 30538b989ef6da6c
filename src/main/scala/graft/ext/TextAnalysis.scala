package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** [EXT] Text-analysis operators for LLM-data pipelines (SURVEY §2.11):
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * Everything here is a pure Column expression — narrow, codegen-friendly,
  * no UDFs, no shuffle — so at 100 TB these run at parquet-scan speed and
  * stack inside whole-stage codegen with the scan's filters.
  *
  * Cross-engine note (DuckDB oracle parity): inputs are trimmed before
  * splitting because Spark's `split` drops trailing empty strings while
  * DuckDB's `string_split_regex` keeps them.
  */
object TextAnalysis {

  /** Whitespace tokenization (trim first — see note above). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: alphanumeric runs and single punctuation marks
    * each count as one token — a cheap, deterministic proxy for subword
    * tokenizers when sizing corpora.
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Out-of-vocabulary fraction: share of a doc's whitespace tokens not
    * in `vocab` — the coverage statistic a tokenizer/vocab build is
    * judged by (pair with HeavyHitters.topTokens for a data-derived
    * vocabulary). The vocab is one literal array (constant plan size;
    * vocabularies here are top-K lists, not full lexicons — for a
    * 100k-term lexicon use a broadcast join instead).
    */
  def oovFraction(text: Column, vocab: Seq[String]): Column = {
    val toks = tokens(text)
    round(size(filter(toks, t => !array_contains(lit(vocab.toArray), t))) /
      greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Punctuation ratio: non-alphanumeric-non-space chars / total chars. */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")) /
      greatest(length(text), lit(1)), 6)

  /** English-stopword ratio over whitespace tokens. */
  val StopwordsEn = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
  def stopwordRatio(text: Column): Column = {
    val pattern = s"\\b(${StopwordsEn.mkString("|")})\\b"
    round(size(regexp_extract_all(lower(text), lit(pattern), lit(0))) /
      greatest(tokenCount(text), lit(1)), 6)
  }

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation,
    * moderate stopword presence (natural text has some). Deterministic
    * arithmetic only, so it is oracle-checkable.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text) / lit(500.0), lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 5, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4, lit(1.0))
    round((lenScore * 0.4) + (punctPenalty * 0.3) + (stopScore * 0.3), 6)
  }

  /** Language-ID heuristic: per-language stopword hit counts, argmax with
    * a deterministic tie-break (earlier language in the list wins). The
    * marker sets are small on purpose — this is the n-gram/stopword
    * heuristic of SURVEY §2.11, not a trained model.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit(s"\\b(${markers.mkString("|")})\\b"), lit(0)))

  def langId(text: Column): Column = {
    // argmax via a fold: keep (bestLang, bestScore), strict > so the
    // earlier language wins ties — deterministic on both engines.
    val init = struct(lit("und").as("lang"), lit(-1).as("score"))
    LangMarkers.foldLeft(init) { case (best, (lang, markers)) =>
      val s = langScore(text, markers)
      when(s > best.getField("score"),
        struct(lit(lang).as("lang"), s.as("score"))).otherwise(best)
    }.getField("lang")
  }

  // ---- repetition filters (Gopher-style quality signals) -------------
  // Published pre-training recipes drop documents dominated by repeated
  // content (boilerplate, listicles, scraper loops). Both signals below
  // are single-pass Column expressions over the token array — no
  // shuffle, no UDF — and restate exactly in DuckDB, so they carry a
  // full hash-match oracle (ext_repetition).

  /** Fraction of the document owned by its most frequent token
    * (max token frequency / token count). Computed as the longest run in
    * the SORTED token array — one linear fold, no per-token grouping.
    */
  def topTokenFraction(text: Column): Column = {
    val toks = tokens(text)
    val sorted = array_sort(toks)
    val mx = aggregate(sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))
    round(mx / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Fraction of word n-grams that are repeats of an earlier n-gram in
    * the same document: 1 - distinct/total. Shares Dedup.shingles' gram
    * definition (short docs collapse to one whole-doc gram → 0.0).
    */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    val grams = Dedup.shingles(text, n)
    round((size(grams) - size(array_distinct(grams))) /
      greatest(size(grams), lit(1)).cast("double"), 6)
  }

  /** Normalization fingerprint: md5 of whitespace-normalized text — equal
    * for documents differing only in whitespace. Oracle-checkable.
    */
  def fingerprintNormalized(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  // ---- PII redaction ------------------------------------------------
  // Patterns chosen to mean the same thing in Java regex (Spark) and RE2
  // (DuckDB oracle): no backreferences, no lookaround.

  /** Email addresses (pragmatic form, not full RFC 5322). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** http/https URLs up to the next whitespace. */
  val UrlRe = "https?://[^\\s]+"
  /** Standalone digit runs of 6+ (phone/account/SSN-shaped). */
  val IdRe = "\\b[0-9]{6,}\\b"

  /** Count of pattern hits — redaction accounting, computed on the raw
    * text BEFORE replacement. Pure Column expression, scan-speed.
    */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact URLs, then emails, then long digit runs, each with a typed
    * placeholder. URL first: a URL path may embed @-forms and digit runs
    * that must disappear as part of the URL, not as separate hits.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      IdRe, "<ID>")

  // ---- normalization ------------------------------------------------

  /** Canonical text normalization for dedup/hash pipelines (the CCNet
    * step order): Unicode NFC (native `graft_nfc` when the session has
    * GraftExtensions, else a same-helper UDF fallback), control chars →
    * space, whitespace runs collapsed, trimmed, lowercased. Normalizing
    * BEFORE hashing is what keeps 'é' (composed) and 'e'+combining-acute
    * in one dedup bucket.
    */
  def normalize(spark: org.apache.spark.sql.SparkSession,
      text: Column): Column = {
    val nfc =
      if (spark.catalog.functionExists("graft_nfc"))
        call_function("graft_nfc", text)
      else {
        val f = udf((s: String) =>
          if (s == null) null
          else graft.functions.NfcNormalizeHelper.nfc(
            org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
        f(text)
      }
    lower(trim(regexp_replace(
      regexp_replace(nfc, "[\\p{Cntrl}]", " "), "\\s+", " ")))
  }

  // ---- compression-ratio quality signal -----------------------------

  /** zlib compression ratio (compressed/raw UTF-8 bytes) — the published
    * repetitiveness screen: boilerplate and looped spam compress far
    * below natural prose (≈0.3–0.6), random noise ≈1. Per-row byte work
    * no Column algebra expresses, so the native `graft_deflate_ratio`
    * Expression (codegen'd, fused in the scan) carries it when the
    * session has GraftExtensions; otherwise a documented Scala-UDF
    * fallback with identical semantics (same static helper) — the same
    * auto-select discipline as Dedup's hash family.
    */
  def compressionRatio(spark: org.apache.spark.sql.SparkSession,
      text: Column): Column =
    if (spark.catalog.functionExists("graft_deflate_ratio"))
      call_function("graft_deflate_ratio", text)
    else {
      val f = udf((s: String) =>
        if (s == null) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(
          graft.functions.DeflateRatioHelper.ratioOf(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))))
      f(text)
    }
}
