package graft.functions.expr

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the text-sketch hot paths (min-shingle hash,
  * k-minhash, simhash). The higher-order-function formulations are
  * CodegenFallback in Spark AND allocate an SQL array per intermediate
  * (shingle list, per-shingle hash list, per-hash-function pass), so a
  * 64-hash minhash walks the shingles 64 times. These expressions do
  * one pass per document with primitive accumulators.
  *
  * Hashing: xxHash-style avalanche over the shingle string's hashCode
  * stream is NOT enough for minhash quality — we hash the shingle bytes
  * with a 64-bit FNV-1a then finalize with splitmix64, and derive the k
  * minhash functions by double hashing (Kirsch–Mitzenmacher):
  * h_i = h1 + i·h2. Sketch values are internal bucketing keys, not a
  * cross-version contract.
  */
object TextHash {
  private val ws = Pattern.compile("\\s+")

  /** Spark-split-compatible whitespace tokenization (limit -1). */
  def tokens(s: String): Array[String] = ws.split(s, -1)

  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    splitmix64(h)
  }

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Apply `f` to the hash pair (h1, h2) of every n-word shingle.
    * Shingle semantics mirror TextFunctions.wordShingles: fewer than n
    * tokens → one shingle of the whole text. */
  def foreachShingleHash(text: String, n: Int)(f: (Long, Long) => Unit): Unit = {
    val toks = tokens(text)
    if (toks.length < n) {
      val s = toks.mkString(" ")
      f(fnv64(s), fnv64(s + "\u0000"))
    } else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val s = sb.toString
        f(fnv64(s), fnv64(s + "\u0000"))
        i += 1
      }
    }
  }
}

/** Minimum shingle hash (k-min sketch with k = 1): `long`. */
case class MinShingleHash(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"min_shingle_hash needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    var min = Long.MaxValue
    TextHash.foreachShingleHash(input.asInstanceOf[UTF8String].toString, n) {
      (h1, _) => if (h1 < min) min = h1
    }
    min
  }
  override protected def withNewChildInternal(c: Expression): MinShingleHash = copy(child = c)
  override def prettyName: String = "min_shingle_hash"
}

/** k MinHash values over word n-shingles: `array<long>`, one pass. */
case class MinHashes(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0 && k > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhashes needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val mins = Array.fill(k)(Long.MaxValue)
    TextHash.foreachShingleHash(input.asInstanceOf[UTF8String].toString, n) {
      (h1, h2) =>
        var i = 0
        var h = h1
        while (i < k) {
          if (h < mins(i)) mins(i) = h
          h += h2 // double hashing: h_i = h1 + i*h2
          i += 1
        }
    }
    new GenericArrayData(mins)
  }
  override protected def withNewChildInternal(c: Expression): MinHashes = copy(child = c)
  override def prettyName: String = "minhashes"
}

/** Sorted distinct word-n-shingle hashes: `array<long>`, one pass with
  * primitive sort+dedupe — the set representation behind the
  * Jaccard-based dedup operators (set size and pairwise intersections
  * equal the distinct-string-shingle set's, modulo 64-bit collisions).
  * Replaces an interpreted HOF chain (transform + concat_ws + slice +
  * array_distinct + array_sort) that allocated an SQL array per
  * intermediate. */
case class DistinctShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"distinct_shingle_hashes needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    var buf = new Array[Long](64)
    var m = 0
    TextHash.foreachShingleHash(input.asInstanceOf[UTF8String].toString, n) {
      (h1, _) =>
        if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
        buf(m) = h1
        m += 1
    }
    java.util.Arrays.sort(buf, 0, m)
    var w = 0
    var i = 0
    while (i < m) {
      if (w == 0 || buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, w))
  }
  override protected def withNewChildInternal(c: Expression): DistinctShingleHashes = copy(child = c)
  override def prettyName: String = "distinct_shingle_hashes"
}

/** Combined one-pass text sketch: `struct<sh: array<long>, mh:
  * array<long>>` — the sorted distinct shingle-hash set
  * ([[DistinctShingleHashes]]) AND the k minhashes ([[MinHashes]]) from
  * ONE traversal of the document. The near-dup index build/append and
  * the LSH/suppressor paths need BOTH representations of the same
  * batch; computing them as two separate projections re-tokenizes and
  * re-FNV-hashes every shingle twice (and, where each projection is
  * checkpointed, costs two materialization jobs). Field values are
  * bit-identical to the two single-output expressions by construction:
  * the same [[TextHash.foreachShingleHash]] stream feeds both
  * accumulators. */
case class ShingleSketch(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0 && k > 0)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sh",
      ArrayType(LongType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("mh",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingle_sketch needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    var buf = new Array[Long](64)
    var m = 0
    val mins = Array.fill(k)(Long.MaxValue)
    TextHash.foreachShingleHash(input.asInstanceOf[UTF8String].toString, n) {
      (h1, h2) =>
        if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
        buf(m) = h1
        m += 1
        var i = 0
        var h = h1
        while (i < k) {
          if (h < mins(i)) mins(i) = h
          h += h2 // double hashing: h_i = h1 + i*h2
          i += 1
        }
    }
    java.util.Arrays.sort(buf, 0, m)
    var w = 0
    var i = 0
    while (i < m) {
      if (w == 0 || buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new GenericArrayData(java.util.Arrays.copyOf(buf, w)),
      new GenericArrayData(mins))
  }
  override protected def withNewChildInternal(c: Expression): ShingleSketch = copy(child = c)
  override def prettyName: String = "shingle_sketch"
}

/** Positional token n-gram hashes + token count of an
  * ALREADY-LOWERCASED document: `struct<nt: int, g: array<long>>` with
  * `nt` = the nonempty whitespace-token count and `g(i)` = a 64-bit
  * hash of tokens i..i+n-1 (so `g` is posexplode-ready: array index =
  * gram start position; length = max(nt-n+1, 0) — a document shorter
  * than n tokens carries NO grams, unlike the shingle family's
  * whole-text fallback). One pass, one fnv64 per TOKEN plus an n-term
  * polynomial fold per gram — the kernel behind the exact-substring
  * span markers and the duplicated-n-gram profiles, replacing an
  * interpreted HOF chain (transform + sequence + slice + concat_ws +
  * xxhash64) that re-walked every gram's characters and allocated a
  * slice array and a gram string per position.
  *
  * Hash EQUALITY CLASSES (all any caller uses — grams only ever group,
  * join, and count by equality) match the legacy chain's: equal token
  * sequences hash equal, unequal ones differ modulo 64-bit collisions
  * — the same caveat `xxhash64(concat_ws(" ", slice(...)))` carried
  * (single-space-joining whitespace-free tokens is injective, so gram
  * string equality IS token-sequence equality). Like
  * [[HashedGramFeatures]], expects ALREADY-LOWERCASED input — wrappers
  * compose Spark's own `Lower` above (UTF8String/Java lowercasing
  * applies context-sensitive SpecialCasing that `lower()` does not),
  * and lowercasing never creates or destroys whitespace, so
  * tokenizing lowered text equals lowering each original token. */
case class GramHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("nt",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("g",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"gram_hashes needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val raw = TextHash.tokens(input.asInstanceOf[UTF8String].toString)
    // drop empties (split("\\s+", -1) leaves one before a leading
    // separator and one for the empty string)
    var nt = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) nt += 1; i += 1 }
    val m = nt - n + 1
    if (m <= 0)
      return org.apache.spark.sql.catalyst.InternalRow(
        nt, new GenericArrayData(Array.emptyLongArray))
    // hash each token once; grams fold the token hashes
    val th = new Array[Long](nt)
    var w = 0
    i = 0
    while (i < raw.length) {
      if (!raw(i).isEmpty) { th(w) = TextHash.fnv64(raw(i)); w += 1 }
      i += 1
    }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        h = h * 0x100000001b3L + th(i + j)
        j += 1
      }
      out(i) = TextHash.splitmix64(h)
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nt, new GenericArrayData(out))
  }
  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
  override def prettyName: String = "gram_hashes"
}

/** 64-bit SimHash over whitespace tokens (frequency-weighted ±1 per
  * bit): `long`, one pass with a primitive counter array. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val counts = new Array[Int](64)
    val toks = TextHash.tokens(input.asInstanceOf[UTF8String].toString)
    var i = 0
    while (i < toks.length) {
      val h = TextHash.fnv64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** md5-bucketed unigram+bigram feature keys of a document — the DSIR
  * hashed-feature extraction ([[graft.api.TextAnalysis]]):
  * whitespace-tokenize, emit every unigram then every space-joined
  * bigram as the first 8 hex chars of its md5. Bit-identical to the
  * HOF formulation it replaces —
  * `transform(toks ++ bigrams, g => substring(md5(g), 1, 8))` — which
  * was CodegenFallback AND allocated three SQL arrays per document;
  * this is one pass with a reused digest, ~10x less per-gram cost on
  * the scoring path every DSIR query walks (md5 itself, the feature
  * CONTRACT, is unchanged — the DuckDB oracle replays it).
  *
  * Expects ALREADY-LOWERCASED input: the wrappers compose Spark's own
  * `Lower` above this expression rather than lowercasing inside it.
  * The obvious-looking internal `UTF8String.toLowerCase` is NOT
  * `lower()` — it applies Java's context-sensitive SpecialCasing
  * (Greek word-final Σ→ς where `lower()` maps Σ→σ unconditionally), a
  * divergence the random-unicode fuzz spec caught on real hashes.
  * Tokenization is the same split("\\s+", -1) as wsTokens. */
case class HashedGramFeatures(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hashed_gram_features needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val raw = TextHash.tokens(input.asInstanceOf[UTF8String].toString)
    // drop empties (split with limit -1 keeps a leading "" on
    // leading-whitespace text), exactly like filter(toks, t => t != "")
    var n = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { raw(n) = raw(i); n += 1 }
      i += 1
    }
    val out = new Array[UTF8String](if (n >= 2) 2 * n - 1 else n)
    val md = HashedGramFeatures.digest.get()
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n) {
      out(i) = HashedGramFeatures.md5Prefix8(md, raw(i))
      i += 1
    }
    i = 0
    while (i < n - 1) {
      sb.setLength(0)
      sb.append(raw(i)).append(' ').append(raw(i + 1))
      out(n + i) = HashedGramFeatures.md5Prefix8(md, sb.toString)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }
  override protected def withNewChildInternal(c: Expression): HashedGramFeatures = copy(child = c)
  override def prettyName: String = "hashed_gram_features"
}

object HashedGramFeatures {
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".toCharArray

  /** First 8 lowercase hex chars of md5(utf8(s)) — bit-identical to
    * `substring(md5(cast(s as binary)), 1, 8)`. The bytes hashed are
    * UTF8String's encoding, NOT String.getBytes(UTF_8): they differ on
    * unpaired surrogates (getBytes substitutes '?', UTF8String keeps
    * its own decodable representation — found by the random-unicode
    * fuzz spec, first token hash diverging on a lone-surrogate word). */
  private def md5Prefix8(md: java.security.MessageDigest,
                         s: String): UTF8String = {
    md.reset()
    val d = md.digest(UTF8String.fromString(s).getBytes)
    val c = new Array[Byte](8)
    var i = 0
    while (i < 4) {
      c(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      c(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(c)
  }
}

/** Shared char-bigram language-model kernel (27 symbols: space + a-z,
  * case-folded, with space-run collapse so punctuation/whitespace salvos
  * count once). Training and scoring use the SAME normalization, so a
  * model is valid for any text the scorer sees. */
object CharLm {
  val Symbols = 27

  @inline private def symbol(c: Char): Int = {
    val lower = Character.toLowerCase(c)
    if (lower >= 'a' && lower <= 'z') lower - 'a' + 1 else 0
  }

  /** Fold a document's bigram transitions into `counts` (length 27²,
    * row-major prev×next). Space→space transitions are skipped. */
  def accumulate(s: String, counts: Array[Long]): Unit = {
    var prev = 0
    var i = 0
    while (i < s.length) {
      val idx = symbol(s.charAt(i))
      if (idx != 0 || prev != 0) {
        counts(prev * Symbols + idx) += 1
        prev = idx
      }
      i += 1
    }
  }

  /** Row-conditional log-probabilities of a (Laplace-smoothed) count
    * table: model[p*27+n] = ln P(next=n | prev=p). */
  def logProbs(counts: Array[Long]): Array[Double] = {
    val model = new Array[Double](Symbols * Symbols)
    var p = 0
    while (p < Symbols) {
      var total = 0L
      var n = 0
      while (n < Symbols) { total += counts(p * Symbols + n); n += 1 }
      n = 0
      while (n < Symbols) {
        model(p * Symbols + n) = math.log(counts(p * Symbols + n).toDouble / total)
        n += 1
      }
      p += 1
    }
    model
  }

  /** Mean transition log-probability of a document (0.0 for documents
    * with no transitions) — the per-doc score. */
  def score(s: String, model: Array[Double]): Double = {
    var prev = 0
    var i = 0
    var n = 0
    var sum = 0.0
    while (i < s.length) {
      val idx = symbol(s.charAt(i))
      if (idx != 0 || prev != 0) {
        sum += model(prev * Symbols + idx)
        n += 1
        prev = idx
      }
      i += 1
    }
    if (n == 0) 0.0 else sum / n
  }
}

/** Mean char-bigram log-probability of a text column under a trained
  * 27-symbol model (TextAnalysis.fitCharBigramLm) — the cheap stand-in
  * for KenLM perplexity in a CCNet-style quality-filter stage. The
  * model (27² doubles, ~6 KB) rides in the expression tree, so scoring
  * is one pass per document with zero per-row allocation and no join
  * against a model table. */
case class CharBigramScore(child: Expression, model: Array[Double])
    extends UnaryExpression with CodegenFallback {
  require(model.length == CharLm.Symbols * CharLm.Symbols,
    s"model must be ${CharLm.Symbols}x${CharLm.Symbols} log-probs")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"char_bigram_score needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    CharLm.score(input.asInstanceOf[UTF8String].toString, model)
  override protected def withNewChildInternal(c: Expression): CharBigramScore =
    copy(child = c)
  override def prettyName: String = "char_bigram_score"
}

/** Subword tokenization: deterministic BPE vocabulary training over a
  * word-frequency table (driver-side, bounded input — the FAISS-style
  * "fit on a bounded sample, apply distributed" pattern every model-ish
  * operator here uses) plus WordPiece-style greedy longest-match
  * inference as a one-pass expression. Continuation pieces carry the
  * `##` prefix; a word with no viable segmentation becomes `[UNK]`.
  * cites prasanthj/culvert: no tokenizer exists in the reference —
  * this is part of the training-pipeline surface the build adds. */
object Subword {
  val Unk = "[UNK]"

  /** Split a word into its initial symbol sequence: first char bare,
    * rest `##`-prefixed. */
  private def symbols(word: String): Vector[String] =
    word.iterator.zipWithIndex.map { case (c, i) =>
      if (i == 0) c.toString else "##" + c
    }.toVector

  /** Train a BPE vocabulary from (word, count) pairs: start from the
    * observed characters (both word-start and continuation form, so
    * any in-alphabet word always segments without `[UNK]`), then
    * repeatedly merge the most frequent adjacent symbol pair until
    * `vocabSize` symbols exist or no pair repeats. Ties break to the
    * lexicographically smallest pair — training is a pure function of
    * the word counts. */
  def fit(wordCounts: Seq[(String, Long)], vocabSize: Int): Array[String] = {
    require(vocabSize > 0)
    val words = wordCounts.filter(_._1.nonEmpty)
      .map { case (w, n) => (scala.collection.mutable.ArrayBuffer(
        symbols(w): _*), n) }
    val vocab = scala.collection.mutable.LinkedHashSet.empty[String]
    words.foreach(_._1.foreach { s =>
      vocab += s
      vocab += (if (s.startsWith("##")) s.stripPrefix("##") else "##" + s)
    })
    while (vocab.size < vocabSize) {
      val pairCounts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + n
          i += 1
        }
      }
      val candidates = pairCounts.filter(_._2 >= 2)
      if (candidates.isEmpty) return vocab.toArray
      val ((a, b), _) = candidates.minBy { case ((x, y), n) => (-n, x, y) }
      val merged = a + b.stripPrefix("##")
      vocab += merged
      words.foreach { case (syms, _) =>
        var i = 0
        while (i < syms.length - 1) {
          if (syms(i) == a && syms(i + 1) == b) {
            syms(i) = merged
            syms.remove(i + 1)
          } else i += 1
        }
      }
    }
    vocab.toArray
  }

  /** Greedy longest-match segmentation of one word. */
  def tokenizeWord(word: String, vocab: java.util.HashSet[String],
                   out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    if (word.isEmpty) return
    var start = 0
    val mark = out.length
    while (start < word.length) {
      var end = word.length
      var piece: String = null
      while (end > start && piece == null) {
        val cand = (if (start > 0) "##" else "") + word.substring(start, end)
        if (vocab.contains(cand)) piece = cand else end -= 1
      }
      if (piece == null) { // no viable segmentation: the whole word is UNK
        out.dropRightInPlace(out.length - mark)
        out += Unk
        return
      }
      out += piece
      start = end
    }
  }

  def tokenize(text: String, vocab: java.util.HashSet[String]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    TextHash.tokens(text).foreach(w => if (w.nonEmpty) tokenizeWord(w, vocab, out))
    out.toArray
  }
}

/** WordPiece-style greedy subword tokens over a trained vocabulary:
  * `string → array<string>`. The vocabulary rides in the expression
  * tree (like [[CharBigramScore]]'s model), so tokenization is one
  * pass per document with no join and nothing to broadcast. */
case class SubwordTokens(child: Expression, vocab: Array[String])
    extends UnaryExpression with CodegenFallback {
  require(vocab.nonEmpty, "vocabulary must be non-empty")
  @transient private lazy val vocabSet = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"subword_tokens needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Subword.tokenize(
      input.asInstanceOf[UTF8String].toString, vocabSet)
      .map(UTF8String.fromString(_)))
  override protected def withNewChildInternal(c: Expression): SubwordTokens =
    copy(child = c)
  override def prettyName: String = "subword_tokens"
}

/** Static entry point for [[NfcNormalize]]'s generated code. */
object TextNormal {
  /** Unicode NFC normalization of a UTF8String. The `isNormalized`
    * probe short-circuits the common case (ASCII / already-composed
    * text) with zero allocation — only genuinely decomposed input pays
    * the String round-trip. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Unicode NFC normalization: `string → string`. Unlike the sketch
  * expressions above (CodegenFallback — their one-pass primitive loops
  * don't benefit from inlining), this participates in whole-stage
  * codegen so the normalize → regexp_replace chain in
  * `TextAnalysis.normalizeText` stays one fused stage. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"nfc_normalize needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    TextNormal.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.expr.TextNormal.nfc($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
  override def prettyName: String = "nfc_normalize"
}

/** Static kernel behind [[SortedIntersectCount]] — kept on an object so
  * whole-stage codegen can call it by name. */
object SetOps {
  /** Number of common elements of two SORTED (ascending), DISTINCT
    * long arrays: one merge pass, zero allocation. For such inputs the
    * result equals `size(array_intersect(a, b))` by construction
    * (array_intersect returns the distinct common elements; a merge
    * over sorted distinct inputs visits exactly those once). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      // LOUD on a null element (getLong on a null slot would silently
      // read 0 and return a wrong count): the contract is sorted
      // distinct non-null sets, and every internal producer satisfies
      // it — a violation can only come through the SQL surface
      if (a.isNullAt(i) || b.isNullAt(j)) throw new IllegalArgumentException(
        "sorted_intersect_count: null array element (inputs must be sorted distinct non-null sets)")
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** `sorted_intersect_count(a, b)`: intersection SIZE of two sorted
  * distinct `array<long>` sets — the exact-Jaccard / containment verify
  * kernel. Replaces `size(array_intersect(sh_a, sh_b))` on the shingle
  * hash sets ([[DistinctShingleHashes]] / [[ShingleSketch]] output and
  * their persisted parquet form — all sorted distinct by construction):
  * Spark's `array_intersect` builds a hash set of one side and
  * materializes the intersection ARRAY per row just so `size` can read
  * its length; this is one branch-light merge over the two primitive
  * arrays with no per-row allocation, and it participates in
  * whole-stage codegen (the HOF is evaluated inside the verify filter,
  * so fallback would break the fused stage).
  *
  * CONTRACT: both inputs sorted ascending and distinct — callers pass
  * only the shingle-set representation, which is sorted distinct at
  * every producer. Null-intolerant like `size(array_intersect(...))`
  * under ANSI (null input → null). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count needs two array<bigint>, got ($l, $r)")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SetOps.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expr.SetOps.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_count"
}

/** Shared token/char statistics helpers for the quality/lang-id
  * kernels: the EXACT integer counts the interpreted formulations
  * derive their floats from. */
object TextStats {
  /** Java-regex character-class membership of `[A-Za-z0-9\s]` (the
    * complement of `qualityScore`'s punctuation class): ASCII
    * alphanumerics plus Java's default (ASCII-only) `\s` =
    * `[ \t\n\x0B\f\r]`. */
  def isKeep(cp: Int): Boolean =
    (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
      (cp >= '0' && cp <= '9') ||
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** (codePoints, punctCodePoints) of `s` — codePoints equals Spark's
    * `length(text)` (UTF8String.numChars counts code points) and
    * punctCodePoints equals the char count removed by
    * `regexp_replace(text, "[^A-Za-z0-9\\s]", "")` (Java regex walks
    * code points, so a supplementary character matches once). */
  def charAndPunctCounts(s: String): (Int, Int) = {
    var chars = 0
    var punct = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      chars += 1
      if (!isKeep(cp)) punct += 1
    }
    (chars, punct)
  }
}

/** One-pass composite quality score (UNROUNDED — callers compose
  * Spark's own `round(_, 6)` above, so the rounding rule stays
  * Spark's): bit-identical to the interpreted formulation
  *
  * {{{
  *   lenScore  = least(size(split(text,"\\s+")) / 20.0, 1.0)
  *   punctR    = (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))) / length(text)   (0 when empty)
  *   punctScore = 1.0 - least(punctR * 4.0, 1.0)
  *   stopScore = 1.0 - size(filter(toks, isin(stopwords))) / size(toks)  (ratio 0 when no tokens)
  *   lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  * }}}
  *
  * because every input to the float math is an INTEGER count computed
  * with the same semantics (TextHash.tokens IS Spark's
  * `split(text, "\\s+")`; [[TextStats]] replicates the length/regex
  * counts; stopword membership is exact string equality, matching
  * `isin` on string literals), and the IEEE operations then run in the
  * same order. The interpreted chain re-split the text three times,
  * ran an interpreted HOF filter with a per-token isin chain, and a
  * regexp_replace that materialized the stripped string just to take
  * its length — ~35× the cost of one tokenization (probes_r18.json). */
case class QualityScoreRaw(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"quality_score needs string, got $t")
  }
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  override def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    val toks = TextHash.tokens(str)
    val nTok = toks.length
    var stops = 0
    var i = 0
    while (i < nTok) {
      if (stopSet.contains(toks(i))) stops += 1
      i += 1
    }
    val (chars, punct) = TextStats.charAndPunctCounts(str)
    val lenScore = math.min(nTok.toDouble / 20.0, 1.0)
    val punctRatio = if (chars == 0) 0.0 else punct.toDouble / chars.toDouble
    val punctScore = 1.0 - math.min(punctRatio * 4.0, 1.0)
    val stopScore =
      1.0 - (if (nTok == 0) 0.0 else stops.toDouble / nTok.toDouble)
    lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  }
  override protected def withNewChildInternal(c: Expression): QualityScoreRaw =
    copy(child = c)
  override def prettyName: String = "quality_score_raw"
}

/** One-pass marker-word language ID over ALREADY-CASE-FOLDED text —
  * bit-identical to the interpreted argmax
  *
  * {{{
  *   scores(l) = size(filter(split(text,"\\s+"), isin(markers(l))))
  *   when(greatest(scores) <= 0, "und")
  *     .otherwise(substring(least(format_string("%04d|%s", 9999 - scores(l), l)), 6, 2))
  * }}}
  *
  * replicated exactly: one tokenization, one hash lookup per token
  * across ALL marker sets (the interpreted form re-split and re-scanned
  * the text once per language per REFERENCE — ten times for five
  * languages, since the keyed strings and the greatest() guard each
  * reference the score), then the same Locale.US "%04d|%s" encoding and
  * binary-min tie-break (count desc, code asc) on the driver-side
  * constants. Callers compose Spark's own `lower()` above, the
  * [[GramHashes]] rule. */
case class LangIdMarker(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lang_id_marker needs string, got $t")
  }
  // langs in ASCENDING code order (the interpreted form's `langs`),
  // token → bitmask of marker sets containing it
  @transient private lazy val langs: Array[String] =
    markers.map(_._1).sorted.toArray
  @transient private lazy val tokenMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    val byLang = markers.toMap
    langs.zipWithIndex.foreach { case (l, i) =>
      byLang(l).foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }
  override def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    val toks = TextHash.tokens(str)
    val scores = new Array[Int](langs.length)
    var i = 0
    while (i < toks.length) {
      val mask = tokenMask.get(toks(i))
      if (mask != null) {
        var m = mask.intValue()
        while (m != 0) {
          val b = java.lang.Integer.numberOfTrailingZeros(m)
          scores(b) += 1
          m &= m - 1
        }
      }
      i += 1
    }
    var max = Int.MinValue
    var j = 0
    while (j < scores.length) {
      if (scores(j) > max) max = scores(j)
      j += 1
    }
    if (max <= 0) UTF8String.fromString("und")
    else {
      // least(format_string("%04d|%s", 9999 - score, lang)): Spark's
      // format_string is a Locale.US java.util.Formatter; the keyed
      // strings are ASCII so UTF8String binary order == String order
      var best: String = null
      var k = 0
      while (k < langs.length) {
        val keyed = String.format(java.util.Locale.US, "%04d|%s",
          Integer.valueOf(9999 - scores(k)), langs(k))
        if (best == null || keyed.compareTo(best) < 0) best = keyed
        k += 1
      }
      // substring(least, 6, 2): 1-based start 6, length 2
      UTF8String.fromString(best.substring(5, 7))
    }
  }
  override protected def withNewChildInternal(c: Expression): LangIdMarker =
    copy(child = c)
  override def prettyName: String = "lang_id_marker"
}

/** `punct_ratio_raw(text)`: the quality family's punctuation ratio —
  * bit-identical to
  * `when(length(text) === 0, 0.0).otherwise((length(text) -
  * length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast(double) /
  * length(text))` because both counts are integers with the same
  * semantics ([[TextStats.charAndPunctCounts]]) and the division is
  * the same IEEE op. The interpreted form ran the regex engine over
  * every character and MATERIALIZED the stripped string just to take
  * its length — measured 71 s per 2M × 60-token docs at 8 cores
  * (probes_r18.json), the single most expensive projection in the engine;
  * this is one code-point walk. */
case class PunctRatioRaw(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"punct_ratio_raw needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val (chars, punct) =
      TextStats.charAndPunctCounts(input.asInstanceOf[UTF8String].toString)
    if (chars == 0) 0.0 else punct.toDouble / chars.toDouble
  }
  override protected def withNewChildInternal(c: Expression): PunctRatioRaw =
    copy(child = c)
  override def prettyName: String = "punct_ratio_raw"
}

/** `stopword_ratio_raw(text)`: fraction of whitespace tokens in the
  * stopword list — bit-identical to the interpreted
  * `when(size(toks) === 0, 0.0).otherwise(size(filter(toks,
  * isin(stopwords))).cast(double) / size(toks))` (same Pattern-split
  * tokens, exact string equality, same IEEE division); one pass, no
  * interpreted HOF filter. */
case class StopwordRatioRaw(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"stopword_ratio_raw needs string, got $t")
  }
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  override def nullSafeEval(input: Any): Any = {
    val toks = TextHash.tokens(input.asInstanceOf[UTF8String].toString)
    if (toks.length == 0) 0.0
    else {
      var stops = 0
      var i = 0
      while (i < toks.length) {
        if (stopSet.contains(toks(i))) stops += 1
        i += 1
      }
      stops.toDouble / toks.length.toDouble
    }
  }
  override protected def withNewChildInternal(c: Expression): StopwordRatioRaw =
    copy(child = c)
  override def prettyName: String = "stopword_ratio_raw"
}

/** `mean_token_len_raw(text)`: mean whitespace-token length in code
  * points — bit-identical to the interpreted
  * `when(size(toks) === 0, 0.0).otherwise(aggregate(toks, 0L,
  * (acc, t) => acc + length(t)).cast(double) / size(toks))` (same
  * tokens, `length` counts code points, LONG accumulation, same IEEE
  * division); one pass, no interpreted HOF aggregate. */
case class MeanTokenLenRaw(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"mean_token_len_raw needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val toks = TextHash.tokens(input.asInstanceOf[UTF8String].toString)
    if (toks.length == 0) 0.0
    else {
      var sum = 0L
      var i = 0
      while (i < toks.length) {
        sum += toks(i).codePointCount(0, toks(i).length)
        i += 1
      }
      sum.toDouble / toks.length.toDouble
    }
  }
  override protected def withNewChildInternal(c: Expression): MeanTokenLenRaw =
    copy(child = c)
  override def prettyName: String = "mean_token_len_raw"
}

/** `bpeish_token_count(text)`: count of
  * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` matches — the BPE-ish
  * pre-tokenizer count — equal to
  * `size(regexp_extract_all(text, ..., 0))` by construction: Java
  * regex alternation is leftmost-first with greedy runs, so the match
  * sequence is exactly (maximal ASCII-letter run | maximal ASCII-digit
  * run | one non-alnum non-`\s` code point), which this single
  * code-point scan reproduces without materializing the match array
  * (the interpreted form: 19 s per 2M × 60-token docs — probes_r18.json). */
case class BpeishTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpeish_token_count needs string, got $t")
  }
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) {
        n += 1
        do i += Character.charCount(s.codePointAt(i))
        while (i < s.length && {
          val c = s.codePointAt(i); (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
        })
      } else if (cp >= '0' && cp <= '9') {
        n += 1
        do i += Character.charCount(s.codePointAt(i))
        while (i < s.length && {
          val c = s.codePointAt(i); c >= '0' && c <= '9'
        })
      } else {
        // not a letter/digit: one match unless Java-regex \s
        if (!(cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
              cp == '\f' || cp == '\r')) n += 1
        i += Character.charCount(cp)
      }
    }
    n
  }
  override protected def withNewChildInternal(c: Expression): BpeishTokenCount =
    copy(child = c)
  override def prettyName: String = "bpeish_token_count"
}
