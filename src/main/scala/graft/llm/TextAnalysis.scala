package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Text-analysis operators for training-data pipelines: token counting
  * (whitespace + subword-ish regex), language-ID by marker-token
  * scoring, quality features, and shingle-hash document fingerprints.
  * All pure column expressions — single pass, codegen-friendly, no UDFs.
  */
object TextAnalysis {

  def words(text: Column): Column = Dedup.words(text)

  /** Default marker-token lists (the fixtures' vocabulary clusters);
    * real deployments supply per-language stopword lists the same way.
    */
  val markerLists: Seq[(String, Seq[String])] = Seq(
    "struct" -> Seq("table", "row", "scan", "filter", "sort"),
    "flow" -> Seq("join", "merge", "batch", "group", "hash"),
    "core" -> Seq("data", "stream", "query", "window", "spark"))

  /** Canonical text normalization — the cleanup pass that runs before
    * hashing/chunking so that byte-level noise (case, control chars,
    * ragged whitespace, stuttered punctuation) doesn't defeat
    * content-keyed dedup. Order matters and is part of the contract:
    * lowercase → control chars to spaces → squeeze repeated
    * sentence punctuation → collapse whitespace runs → trim.
    *
    * Pure codegen'd expressions; the regexes restrict to syntax shared
    * by Java regex and RE2 (no lookaround/backrefs in the pattern) so an
    * external system can replicate the normalization bit-for-bit.
    */
  def normalize(text: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(text), "[\\x00-\\x1f]", " "),
          "([.!?,]){2,}", "$1"),
        "\\s+", " "))

  /** Whitespace token count + a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation).
    */
  def tokenCounts(text: Column): (Column, Column) = (
    size(words(text)),
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))

  /** Marker-token language scoring: count token occurrences from each
    * marker list; the guess is the first list with the maximal score
    * (ties resolve in list order). Lists default to [[markerLists]].
    *
    * Callers selecting several scores (plus [[languageGuess]], which
    * references every score again) should stage the word array once and
    * use [[languageScoresFromWords]] — inlining `words(text)` here
    * re-splits the document once per reference (q26 ran 9 splits per
    * row before the round-14 staging).
    */
  def languageScores(text: Column, lists: Seq[(String, Seq[String])]): Seq[Column] =
    languageScoresFromWords(words(text), lists)

  /** [[languageScores]] over a pre-staged word-array column. */
  def languageScoresFromWords(w: Column, lists: Seq[(String, Seq[String])]): Seq[Column] =
    lists.map { case (_, markers) =>
      size(filter(w, x => x.isin(markers: _*)))
    }

  def languageGuess(scores: Seq[Column], names: Seq[String]): Column =
    names.zip(scores).zipWithIndex.foldRight(lit(names.last)) {
      case (((name, score), i), acc) =>
        val rest = scores.drop(i + 1)
        if (rest.isEmpty) acc
        else when(rest.map(score >= _).reduce(_ && _), name).otherwise(acc)
    }

  /** Quality features: token counts, long-token count, digit/punct
    * counts, and two derived ratios (double expressions over exact
    * integers — deterministic across engines).
    *
    * Selecting all six inline re-splits the document ~5× per row (the
    * word array is embedded in n_tokens, n_long_tokens and both
    * ratios); stage the word array and use [[qualityFeaturesFromWords]]
    * when emitting more than one feature.
    */
  def qualityFeatures(text: Column, nChars: Column): Seq[(String, Column)] =
    qualityFeaturesFromWords(words(text), text, nChars)

  /** [[qualityFeatures]] over a pre-staged word-array column: every
    * reference to `w` is then an attribute read (size() on an array
    * attribute is O(1)), so the split runs once per row.
    */
  def qualityFeaturesFromWords(
      w: Column, text: Column, nChars: Column): Seq[(String, Column)] = {
    val nTokens = size(w)
    val nLong = size(filter(w, x => length(x) > 4))
    val nDigits = length(text) - length(regexp_replace(text, "[0-9]", ""))
    val nPunct = length(text) - length(regexp_replace(text, "[^a-z0-9 ]", ""))
    Seq(
      "n_tokens" -> nTokens,
      "n_long_tokens" -> nLong,
      "n_digits" -> nDigits,
      "n_punct" -> nPunct,
      "long_ratio" -> nLong.cast("double") / nTokens,
      "chars_per_token" -> nChars.cast("double") / nTokens)
  }

  /** PII detection patterns — deliberately restricted to syntax shared
    * by Java regex and RE2 (no lookaround, no backreferences) so the
    * same pattern runs verbatim in any engine, including the DuckDB
    * oracle.
    */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "\\b555-[0-9]{4}\\b"

  /** PII scan of `df`: `keyCol`, then bigint match counts per
    * category (`n_emails`, `n_phones`), a `has_pii` flag, and a
    * `redacted` copy of `text` with every match replaced by a category
    * placeholder. The standard pre-training privacy pass, map-only over
    * the corpus; real deployments extend the pattern list (SSNs, IBANs,
    * street addresses) the same way.
    *
    * STAGED: each regex extraction runs once — the counts are
    * materialized before `has_pii` reads them, where an inline flag
    * would re-run both extractions.
    */
  def piiScan(df: DataFrame, keyCol: String, text: Column): DataFrame =
    df.select(
        col(keyCol),
        size(regexp_extract_all(text, lit(emailPattern), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(text, lit(phonePattern), lit(0))).cast("bigint").as("n_phones"),
        regexp_replace(
          regexp_replace(text, emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>").as("redacted"))
      .select(
        col(keyCol), col("n_emails"), col("n_phones"),
        (col("n_emails") + col("n_phones") > 0).as("has_pii"),
        col("redacted"))

  /** Corpus vocabulary: the k most frequent whitespace tokens with
    * deterministic tie order (count desc, then token). One shuffle on
    * the token (map-side combined counts); the global top-k is a
    * TakeOrderedAndProject over the aggregated vocabulary — per-
    * partition top-k then a driver merge of k-row sets, never a full
    * sort — so it holds at any corpus size whose VOCABULARY the driver's
    * k bounds. The rank window runs on k rows post-limit.
    */
  def topKTokens(df: DataFrame, textCol: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(explode(words(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("cnt"), col("token"))).cast("bigint"))
  }

  /** Document fingerprint over shingle hashes: min/max/xor + distinct
    * shingle count (a winnowing-style content signature; identical for
    * identical content, robust to re-ordering of duplicated shingles).
    *
    * Pure per-row array aggregation — no explode, no shuffle: at 100 TB
    * this is a map-only pass over the corpus.
    *
    * STAGED: the hashed-shingle array is materialized once under an
    * alias in its own Project, and the four aggregations read the
    * attribute. Inlining `hs` four times cost four full shingle
    * constructions per row (higher-order functions don't codegen, so
    * there is no common-subexpression elimination across the select
    * list) — invisible under the old prunable bench action, 4× the
    * gate's real cost under the honest one. CollapseProject keeps the
    * stage: it never folds a non-cheap alias referenced more than once
    * (same idiom as the etl/Transform staging).
    */
  def fingerprint(df: DataFrame, idCol: Column, textCol: Column, n: Int = 3): DataFrame = {
    val hs = col("__hs")
    df.select(
      idCol.as("doc_id"),
      transform(Dedup.shingles(textCol, n), s => hashMod(s)).as("__hs"))
      .select(
        col("doc_id"),
        array_min(hs).as("fp_min"),
        array_max(hs).as("fp_max"),
        aggregate(hs, lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"),
        size(hs).cast("bigint").as("n_shingles"))
  }
}
