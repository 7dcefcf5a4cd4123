package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * shingling, quality signals, language scoring, fingerprints. All are
  * built-in expression compositions (codegen'd, distributable); the
  * only stateful pieces — stopword / marker dictionaries — are literal
  * arrays folded into the plan, not driver-side lookups.
  */
object TextFunctions {

  /** Whitespace tokens (the `documents` fixture is space-separated). */
  def wsTokens(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword token count: word pieces, numbers, punctuation
    * runs — the standard pre-tokenizer regex shape. Native one-pass
    * kernel (r18, expr.BpeishTokenCount — count-equal to
    * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]",
    * 0))` without materializing the match array; QualityScoreSpec pins
    * the equality). */
  def bpeishTokenCount(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.BpeishTokenCount(
        org.apache.spark.sql.GraftExprBridge.expression(text)))

  /** Word n-gram shingles (sliding window over whitespace tokens). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = wsTokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct word n-gram shingles. */
  def distinctShingles(text: Column, n: Int): Column =
    array_distinct(wordShingles(text, n))

  /** Punctuation character ratio. Native one-pass kernel (r18,
    * expr.PunctRatioRaw): the interpreted regexp_replace form
    * materialized the stripped string just to measure it — 71 s per
    * 2M docs vs one code-point walk (probes_r18.json; QualityScoreSpec
    * pins bit equality). */
  def punctRatio(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.PunctRatioRaw(
        org.apache.spark.sql.GraftExprBridge.expression(text)))

  /** Fraction of tokens that are in `stopwords`. Native one-pass
    * kernel (r18, expr.StopwordRatioRaw — bit-equal to the interpreted
    * HOF filter form, QualityScoreSpec). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.StopwordRatioRaw(
        org.apache.spark.sql.GraftExprBridge.expression(text), stopwords))

  /** Mean token length. Native one-pass kernel (r18,
    * expr.MeanTokenLenRaw — bit-equal to the interpreted HOF aggregate
    * form, QualityScoreSpec). */
  def meanTokenLen(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.MeanTokenLenRaw(
        org.apache.spark.sql.GraftExprBridge.expression(text)))

  /** Composite quality score in [0,1]: length in useful range, low
    * punctuation noise, moderate stopword density. Deterministic
    * arithmetic only (no transcendentals) for oracle parity.
    *
    * One-pass native kernel (r18 — see expr.QualityScoreRaw): the
    * interpreted composition re-split the text three times (token
    * count, stopword filter, its size guard), ran an interpreted HOF
    * filter with a per-token isin chain, and materialized the
    * punctuation-stripped string just to measure it — ~35× the cost of
    * one tokenization (probes_r18.json; QualityScoreSpec pins bit-equality
    * against the interpreted form). Spark's own `round` composes above
    * the raw double, so the rounding rule stays Spark's. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    round(org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.QualityScoreRaw(
        org.apache.spark.sql.GraftExprBridge.expression(text), stopwords)), 6)

  /** Language marker dictionaries for the n-gram/marker-word heuristic
    * language ID. Small, public stopword cores per language. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不")
  )

  /** Predicted language: argmax marker count, ties broken by language
    * code ascending, 'und' (undetermined) when no marker hits at all.
    *
    * One-pass native kernel (r18 — see expr.LangIdMarker, which
    * replicates the least-of-`%04d|lang`-keyed-strings argmax the
    * interpreted form encoded): the interpreted form re-tokenized and
    * re-scanned the text once per language per REFERENCE — ten
    * langScore evaluations for five languages (the keyed strings and
    * the greatest() guard each hold one) — where one pass with a
    * token→language-mask lookup computes all five counts
    * (QualityScoreSpec pins output equality against the interpreted
    * form). Expects the caller to compose `lower()` above, as before. */
  def langId(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.LangIdMarker(
        org.apache.spark.sql.GraftExprBridge.expression(text),
        langMarkers.toSeq))

  /** Content-defined fingerprint: hex MD5 of the normalized text
    * (lowercased, whitespace-collapsed) — the exact-dup key. */
  def md5Fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Winnowing-style fingerprint: minimum 64-bit hash over the word
    * k-shingles — a single-value rolling-hash document sketch (the
    * k-min-sketch with k=1). Used for near-dup candidate bucketing.
    * Native expression (see expr.TextExprs): one pass, no intermediate
    * shingle arrays. */
  def minShingleHash(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.MinShingleHash(
        org.apache.spark.sql.GraftExprBridge.expression(text), n))

  /** Sorted distinct word-n-shingle hash set in one pass (native
    * expression) — the array<long> set representation the Jaccard
    * operators intersect. */
  def distinctShingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.DistinctShingleHashes(
        org.apache.spark.sql.GraftExprBridge.expression(text), n))

  /** k MinHash values over word n-shingles in one pass (native
    * expression; double-hashing family h_i = h1 + i·h2). */
  def minHashes(text: Column, n: Int, k: Int): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.MinHashes(
        org.apache.spark.sql.GraftExprBridge.expression(text), n, k))

  /** Combined one-pass text sketch: struct(sh = sorted distinct
    * shingle hashes, mh = k minhashes) — both Jaccard representations
    * of a document from ONE traversal (native expression; fields
    * bit-identical to [[distinctShingleHashes]] / [[minHashes]]). */
  def shingleSketch(text: Column, n: Int, k: Int): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.ShingleSketch(
        org.apache.spark.sql.GraftExprBridge.expression(text), n, k))

  /** Positional token n-gram hashes + nonempty-token count:
    * struct(nt = token count, g = per-start-position gram hashes;
    * empty under n tokens) of the CASE-FOLDED document — the
    * exact-substring span-marker / dup-n-gram kernel (native
    * expression, one pass; equality classes match the legacy
    * transform+slice+concat_ws+xxhash64 chain). The lowercase is
    * Spark's own `lower()` composed ABOVE the expression, the
    * [[hashedGramFeatures]] rule. */
  def gramHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.GramHashes(
        org.apache.spark.sql.GraftExprBridge.expression(lower(text)), n))

  /** 64-bit frequency-weighted SimHash over whitespace tokens (native
    * expression, one pass). */
  def simHash64(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.SimHash64(
        org.apache.spark.sql.GraftExprBridge.expression(text)))

  /** Intersection size of two SORTED DISTINCT `array<long>` sets (the
    * shingle-hash set representation) — equal by construction to
    * `size(array_intersect(a, b))` for such inputs, as one codegen'd
    * merge pass with no per-row allocation (native expression; the
    * exact-Jaccard / containment verify kernel). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.SortedIntersectCount(
        org.apache.spark.sql.GraftExprBridge.expression(a),
        org.apache.spark.sql.GraftExprBridge.expression(b)))

  /** Mean char-bigram log-probability under a trained 27-symbol model
    * (TextAnalysis.fitCharBigramLm) — the KenLM-perplexity stand-in for
    * CCNet-style quality filtering. Native expression, one pass, model
    * folded into the plan. */
  def charBigramScore(text: Column, model: Array[Double]): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.CharBigramScore(
        org.apache.spark.sql.GraftExprBridge.expression(text), model))

  /** md5-bucketed unigram+bigram feature keys (the DSIR hashed-feature
    * contract: first 8 hex chars of each lowercased gram's md5).
    * Native expression, one pass with a reused digest; the lowercase
    * is Spark's own `lower()` composed ABOVE the expression — see the
    * expression scaladoc for why it must not lowercase internally. */
  def hashedGramFeatures(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.HashedGramFeatures(
        org.apache.spark.sql.GraftExprBridge.expression(lower(text))))

  /** Unicode NFC normalization (native expression, codegen'd; ASCII /
    * already-composed text short-circuits with zero allocation). */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.NfcNormalize(
        org.apache.spark.sql.GraftExprBridge.expression(text)))

  /** WordPiece-style greedy subword tokens under a trained vocabulary
    * (TextAnalysis.fitSubwordVocab) — `array<string>`, one pass, the
    * vocabulary folded into the plan. */
  def subwordTokens(text: Column, vocab: Array[String]): Column =
    org.apache.spark.sql.GraftExprBridge.column(
      graft.functions.expr.SubwordTokens(
        org.apache.spark.sql.GraftExprBridge.expression(text), vocab))
}
