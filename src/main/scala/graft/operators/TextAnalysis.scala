package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2
  * L8-L11). Most are pure `functions._` compositions; `langId`,
  * `qualityScore` and `bpeTokenCount` are single codegen'd kernel
  * expressions. No UDFs. All arithmetic that reaches query output is either
  * integer or an int/int double division (IEEE-identical across engines,
  * see SURVEY §6).
  *
  * `langId` and `qualityScore` must be one expression each because Spark's
  * `Filter` does no common-subexpression elimination: a composition that
  * names the kernel's result several times runs the kernel once per
  * reference in a `where`, though a `select` would run it once.
  */
object TextAnalysis {

  /** Whitespace tokens. Test documents are single-space separated; the regex
    * handles runs of whitespace for real-world text.
    */
  def tokens(text: Column): Column = split(text, "\\s+")

  def wordCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenization count: letter runs, digit runs, or single
    * non-space symbols (the usual GPT-2-style pre-tok shape, minus the
    * lookahead tricks regexp engines disagree on).
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  /** Counted by the one-pass [[graft.functions.BpeCountKernel]] — the
    * `regexp_extract_all` formulation materialized an array of every
    * match per row just to take its size; QualitySpec pins the kernel
    * against the regex on adversarial inputs, so the oracle fragment
    * (`len(regexp_extract_all(...))`) is unchanged.
    */
  def bpeTokenCount(text: Column): Column =
    graft.functions.QualityFunctions.bpeCount(text)

  /** A tiny, deterministic English-stopword set (present in the synthetic
    * vocab as well as real text).
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(lit(_)): _*)))

  /** Stopword ratio = stopwords / words (0.0 when empty). int/int double. */
  def stopwordRatio(text: Column): Column = {
    val n = wordCount(text)
    when(n === 0, lit(0.0))
      .otherwise(stopwordCount(text).cast("double") / n.cast("double"))
  }

  /** Punctuation density = punct chars / chars. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    val p = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    when(n === 0, lit(0.0)).otherwise(p.cast("double") / n.cast("double"))
  }

  /** Heuristic language ID via stopword evidence: one marker-word set per
    * language; predict the language with the most marker hits, "und" when no
    * evidence. Deterministic tie-break by probe order (en,de,fr,es).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "fr" -> Seq("le", "et", "les", "est"),
    "es" -> Seq("el", "y", "los", "es"))

  /** One [[graft.functions.LangId]] expression: a single
    * [[graft.functions.TokenSetCountKernel]] scan, then the argmax in probe
    * order, "und" for no evidence or null text. The DuckDB `langExprSql`
    * fragment gates it.
    */
  def langId(text: Column): Column = graft.functions.QualityFunctions.langId(text)

  /** Quality score in [0,1]: rewards mid-length docs, penalizes punctuation
    * soup and stopword-free keyword stuffing. All terms are int/int doubles:
    * lengthTerm (1 for 20..1000 words, else words/20 or 1000/words) ×
    * (1 − punct/chars) × (1 if stopwords/words > 0.01 else 0.5).
    *
    * One [[graft.functions.QualityScore]] expression: the one-pass
    * [[graft.functions.QualityStatsKernel]] counts (mirror-exact with the
    * regex formulation, QualitySpec pins them against each other), then the
    * arithmetic in Java, so the DuckDB oracle fragment is unchanged.
    */
  def qualityScore(text: Column): Column =
    graft.functions.QualityFunctions.qualityScore(text)

  /** Canonical normalization for fingerprinting/dedup: lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace, trim. One
    * [[graft.functions.NormalizeText]] kernel over Spark's own `lower`, so
    * case mapping (ICU or not, per `spark.sql.icu.caseMappings.enabled`)
    * is Spark's. The kernel's single byte scan keeps `[a-z0-9]` bytes and
    * turns every other run into one inner space; that is byte-identical to
    * `trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9]+', ' '),
    * '\s+', ' '))`, because every byte of a multi-byte UTF-8 character is
    * >= 0x80 and the `\s+` pass has nothing left to change. The DuckDB
    * oracle replays that regex form (`Queries.normalizeSql`), and
    * TextAnalysisSpec pins the kernel against it.
    */
  def normalize(text: Column): Column =
    graft.functions.NormalizeFunctions.normalize(text)

  /** Document fingerprint = md5 of the normalized text. Stands in for the
    * reference-free "rolling hash" fingerprint; md5 exists verbatim in both
    * Spark and DuckDB so the oracle can replay it.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** PII redaction patterns (the C4/Dolma-style masking stage every
    * training-data pipeline runs before release). Deliberately
    * RE2-compatible — no backreferences or lookaround — so the exact same
    * pattern strings run in Java regex (Spark) and RE2 (DuckDB oracle),
    * and redaction is a pure narrow map (codegen'd, zero shuffle, scales
    * linearly to any corpus size).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "IPV4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "PHONE" -> "\\+?[0-9]{1,3}[- .]\\(?[0-9]{3}\\)?[- .][0-9]{3}[- .][0-9]{4}\\b")

  /** Replace every PII match with its `[TAG]`, applied in declaration order
    * (emails first, so an address is one `[EMAIL]`, not an `[EMAIL]` with a
    * phone-shaped tail).
    *
    * One [[graft.functions.RedactPii]] kernel, byte-identical to the
    * `regexp_replace` chain over these patterns that the DuckDB oracle
    * replays: a byte pre-scan skips a pattern whose every match needs a
    * byte the row lacks (`@` for EMAIL, a digit for IPV4 and PHONE), the
    * row is decoded once and encoded once, and invalid UTF-8 is re-encoded
    * as the chain does it. TextAnalysisSpec pins it to the chain.
    */
  def redactPii(text: Column): Column =
    ColumnBridge.column(graft.functions.RedactPii(ColumnBridge.expression(text)))

  /** Per-pattern match counts summed over the ORIGINAL text (audit metric:
    * how much PII a document carried, independent of redaction order).
    */
  def piiCount(text: Column): Column =
    piiPatterns.map { case (_, pat) =>
      size(regexp_extract_all(text, lit(pat), lit(0)))
    }.reduce(_ + _)
}
