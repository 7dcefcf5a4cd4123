package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators for a training-data pipeline: quality
  * profiling, language ID, token accounting, tf-idf, document
  * fingerprinting, deterministic sampling. All `DataFrame → DataFrame`,
  * column names as parameters; the per-document features are native
  * codegen'd expressions (no UDFs); double aggregates route through
  * DECIMAL(18,6) sums so partial-aggregation order cannot change the
  * result.
  */
object TextAnalysis {

  /** Per-group quality profile: doc counts, average whitespace/BPE-ish
    * token counts, average punctuation ratio and composite quality
    * score. */
  def qualityProfile(docs: DataFrame, textCol: String = "text",
                     groupCol: String = "lang"): DataFrame = {
    val en = langMarkers("en")
    docs.select(col(groupCol),
        tokenCount(col(textCol)).as("ws_toks"),
        bpeishTokenCount(col(textCol)).as("bpe_toks"),
        round(punctRatio(col(textCol)), 6).cast("decimal(18,6)").as("punct"),
        qualityScore(col(textCol), en).cast("decimal(18,6)").as("quality"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        avg(col("ws_toks")).as("avg_ws_tokens"),
        avg(col("bpe_toks")).as("avg_bpe_tokens"),
        round(sum(col("punct")).cast("double") / count(lit(1)), 6).as("avg_punct"),
        round(sum(col("quality")).cast("double") / count(lit(1)), 6).as("avg_quality"))
  }

  /** Marker-word language ID (ties → language code asc, no hits →
    * 'und') added as a `predicted` column. */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("predicted", langId(lower(col(textCol))))

  /** Per-group token accounting: whitespace tokens and the BPE-ish
    * pre-tokenizer count (word pieces / numbers / punctuation runs). */
  def tokenStats(docs: DataFrame, textCol: String = "text",
                 groupCol: String = "source"): DataFrame =
    docs.select(col(groupCol),
        tokenCount(col(textCol)).as("ws"), bpeishTokenCount(col(textCol)).as("bpe"),
        length(col(textCol)).as("len"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"), sum("bpe").as("bpe_tokens"),
        max("ws").as("max_ws"), sum("len").as("chars"))

  /** Top-k terms per document by tf·idf (whitespace tokens, natural-log
    * idf). Unhinted: the document-frequency side is vocabulary-sized
    * and USUALLY broadcastable, but at web-corpus scale a vocabulary
    * (every distinct typo/URL/number) outgrows a driver hint — the
    * planner/AQE picks broadcast while df fits and degrades to a
    * shuffled hash join instead of OOMing when it doesn't. The corpus
    * size N rides along as a one-row aggregate cross-joined into the
    * same plan (no separate count() action/pass over the corpus).
    * Output: (doc_id, rnk, term, tfidf). */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 3): DataFrame = {
    // leading/trailing whitespace makes split() emit empty tokens —
    // a phantom '' term would otherwise score and sort ahead of real
    // terms on ties
    val terms = docs.select(col(idCol).as("doc_id"),
        explode(wsTokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
    val nDf = docs.agg(count(lit(1)).as("n"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").crossJoin(nDf)
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
  }

  /** Min-shingle-hash document fingerprint (k-min sketch, k = 1) — the
    * cheap near-dup pre-filter key. Output: (doc_id, fp). */
  def minShingleFingerprint(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            shingle: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      minShingleHash(lower(col(textCol)), shingle).as("fp"))

  /** Pack documents into fixed token-budget TRAINING BINS (sequence
    * packing — the step that turns a curated corpus into fixed-length
    * training rows): each partition greedily fills bins to `maxTokens`
    * BPE-ish tokens in next-fit-decreasing order — O(n) per partition
    * with no cross-partition coordination, the only packing shape that
    * scales (a globally optimal packing would serialize the corpus
    * through one task for a few percent better fill). Oversized
    * documents (> maxTokens) get a bin of their own rather than being
    * silently dropped. The exchange routes (id, token-count) pairs
    * only — text never shuffles; callers re-attach payloads by id when
    * materializing the packed sequences. Deterministic for a fixed
    * `partitions`: ids are hash-routed, bins fill in (tokens desc, id)
    * order. Output: (<idCol>, n_tokens, bin_id) with bin_id =
    * partition << 32 | local bin index.
    *
    * Fill bound: next-fit closes a bin only because the next document
    * does not fit, so adjacent closed bins sum past the budget — at
    * most 2·total/maxTokens + `partitions` bins overall (q83 contracts
    * exactly this).
    *
    * `tokenCounter` sets the budget's unit: the default is the
    * BPE-ish regex count; pass
    * `t => size(subwordTokens(lower(t), vocab))` to pack under a real
    * fitted subword vocabulary (ApiSpec proves the budget holds). */
  def packSequences(docs: DataFrame, maxTokens: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    partitions: Int = 32,
                    tokenCounter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                      bpeishTokenCount): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(partitions > 0, "partitions must be positive")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      docs.schema(idCol).copy(name = idCol),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("bin_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val mt = maxTokens
    docs.select(col(idCol), tokenCounter(col(textCol)).cast("int").as("n_tokens"))
      .repartition(partitions, col(idCol))
      .sortWithinPartitions(col("n_tokens").desc, col(idCol))
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var bin = 0L; var fill = 0; var open = false
        rows.map { r =>
          val n = r.getInt(1)
          if (open && fill + n > mt) { bin += 1; fill = 0 }
          open = true; fill += n
          org.apache.spark.sql.Row(r.get(0), n, (pid << 32) | bin)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Materialize [[packSequences]] bins into actual training rows: the
    * documents of each bin concatenated in the fill order (token count
    * desc, id asc) with `sep` between them. This is where text finally
    * moves — ONE keyed join (payloads re-attach by id) and one keyed
    * aggregation whose per-group state is bounded by the bin's token
    * budget, so a group never outgrows a training row. Joining with
    * a single space preserves the BPE-ish token count exactly (the
    * pre-tokenizer never merges across whitespace), which q97
    * contracts. Output: (bin_id, n_docs, n_tokens, <textCol>). */
  def materializePackedBins(packed: DataFrame, docs: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text",
                            sep: String = " "): DataFrame =
    packed.join(docs.select(col(idCol), col(textCol)), idCol)
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("int").as("n_tokens"),
        array_join(transform(
          // struct sort = lexicographic by field: (-tokens, id) ==
          // the packer's (tokens desc, id asc) fill order
          array_sort(collect_list(struct(-col("n_tokens"), col(idCol), col(textCol)))),
          m => m.getField(textCol)), sep).as(textCol))

  /** Deterministic keyed sample: keeps rows whose md5(key) hex digest
    * starts with one of `hexPrefixes` — the same subset on every
    * engine and every run (unlike TABLESAMPLE), the standard trick for
    * reproducible train/eval splits. Each single hex character keeps
    * ~1/16 of the corpus. */
  def keyedSample(df: DataFrame, keyCol: String,
                  hexPrefixes: Seq[String] = Seq("0", "1")): DataFrame = {
    require(hexPrefixes.nonEmpty)
    val len = hexPrefixes.head.length
    require(hexPrefixes.forall(_.length == len), "prefixes must share a length")
    df.filter(substring(md5(col(keyCol).cast("string").cast("binary")), 1, len)
      .isin(hexPrefixes: _*))
  }

  /** Split documents into token-bounded chunks with overlap — the
    * LONG-document half of sequence prep ([[packSequences]] bins the
    * short ones; a real pipeline chunks first, packs second). Chunk i
    * covers whitespace tokens [i·stride, i·stride + maxTokens) with
    * stride = maxTokens − overlap, so consecutive chunks share
    * `overlap` tokens of context; every token lands in at least one
    * chunk, and documents at-or-under budget stay whole as chunk 0.
    * One narrow per-row flatMap built from codegen'd array expressions
    * (sequence → explode → slice → array_join) — no shuffle, no UDF.
    * Output: (<idCol>, chunk_idx, n_tokens, chunk_text — token-joined
    * with single spaces). */
  def chunkDocuments(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    docs.select(col(idCol), wsTokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")))
      .withColumn("__nc", greatest(lit(1),
        ceil((col("__n") - overlap) / lit(stride.toDouble)).cast("int")))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("__nc") - 1)))
      .select(col(idCol), col("chunk_idx"),
        least(lit(maxTokens), col("__n") - col("chunk_idx") * stride)
          .cast("int").as("n_tokens"),
        array_join(slice(col("__t"), col("chunk_idx") * stride + 1,
          lit(maxTokens)), " ").as("chunk_text"))
  }

  /** Sentence-preserving chunking — the retrieval/embedding-prep
    * sibling of [[chunkDocuments]]: text splits on sentence boundaries
    * (a `[.!?]`-terminated heuristic; the trailing unterminated run is
    * its own sentence) and whole sentences group into chunks of
    * roughly `maxTokens` whitespace tokens. The boundary rule is the
    * BUCKETED prefix-sum, not greedy reset packing: sentence i belongs
    * to bucket ⌊(tokens before i) / maxTokens⌋, buckets renumber
    * densely per doc — so a chunk overruns `maxTokens` only by the
    * tail of its boundary-straddling sentence, and the assignment is a
    * pure window prefix-sum any engine replays exactly (greedy reset
    * is inherently sequential — not expressible as one pass, and not
    * oracle-checkable). Sentences are never split; empty/whitespace
    * sentences drop.
    *
    * Scale shape: sentence extraction is one codegen'd
    * regexp_extract_all projection; the prefix-sum and dense renumber
    * are windows KEYED BY DOC (per-doc sentence counts, never a
    * corpus-wide window); reassembly is one keyed aggregation —
    * the [[graft.api.Dedup.dedupParagraphs]] discipline. Output:
    * (<idCol>, chunk_idx, n_sentences, n_tokens, chunk_text). */
  def chunkBySentences(docs: DataFrame, maxTokens: Int,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val sentRe = "[^.!?]*[.!?]+(\\s+|$)|[^.!?]+$"
    val sents = docs
      .select(col(idCol).as("__id"),
        posexplode(filter(regexp_extract_all(col(textCol), lit(sentRe), lit(0)),
          s => trim(s) =!= "")).as(Seq("pos", "sent")))
      .withColumn("sent", trim(col("sent")))
      .withColumn("n",
        size(filter(split(col("sent"), "\\s+"), t => t =!= "")))
    val w = Window.partitionBy("__id").orderBy("pos")
    val bucketed = sents
      .withColumn("__cum", coalesce(sum(col("n"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__bucket", floor(col("__cum") / maxTokens))
    bucketed
      .withColumn("chunk_idx",
        dense_rank().over(Window.partitionBy("__id").orderBy("__bucket")) - 1)
      .groupBy(col("__id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n")).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("sent")))),
            x => x.getField("sent")), " ").as("chunk_text"))
      .withColumnRenamed("__id", idCol)
  }

  /** Repetition profile per document — the Gopher-style quality signals
    * that catch boilerplate and degenerate generations: `n_tokens`
    * (non-empty whitespace tokens), `distinct_ratio` (distinct tokens /
    * tokens; low = word-level repetition) and `top_bigram_share` (most
    * frequent bigram's share of all bigrams; high = phrase loops).
    * Thresholding is the caller's policy — typical filters drop
    * distinct_ratio < 0.2 or top_bigram_share > 0.2.
    *
    * Shape: token features are codegen'd array expressions; the bigram
    * mode needs a per-(doc, bigram) count — two keyed aggregations,
    * never a window over the corpus. Documents with fewer than two
    * tokens have no bigrams and report share 0. */
  def repetitionProfile(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"),
        filter(wsTokens(lower(col(textCol))), t => t =!= "").as("__t"))
      .withColumn("n_tokens", size(col("__t")))
      .withColumn("distinct_ratio",
        when(col("n_tokens") > 0,
          round(size(array_distinct(col("__t"))).cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)))
    val bigrams = base.filter(col("n_tokens") >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n_tokens") - 1),
          i => concat(element_at(col("__t"), i), lit(" "),
            element_at(col("__t"), i + 1)))).as("bg"))
    val share = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("__share"))
    base.join(share, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
        coalesce(col("__share"), lit(0.0)).as("top_bigram_share"))
  }

  /** The Gopher/MassiveText heuristic rule battery (the published rule
    * set most large-corpus curation pipelines start from), one boolean
    * column per rule plus the conjunction `keep` — rules stay visible
    * so downstream can report WHICH rule dropped a document, not just
    * that one did. Every threshold comparison is cross-multiplied into
    * INTEGER arithmetic (e.g. symbol ratio <= 0.1 becomes
    * `10*symbols <= words`), so the flags are exactly reproducible in
    * any engine — no float-division boundary cases. One fused
    * codegen'd projection over the text column: no UDF, no shuffle, no
    * join.
    *
    * Rules (defaults = the published thresholds):
    *  - `ok_words`: word count in [minWords, maxWords]
    *  - `ok_mean_word_len`: mean word length in [3, 10] chars
    *  - `ok_symbols`: (# + ellipsis) per word <= 0.1
    *  - `ok_bullets`: <= 90% of non-blank lines start with a bullet
    *  - `ok_ellipsis`: <= 30% of non-blank lines end with an ellipsis
    *  - `ok_alpha`: >= 80% of words contain an alphabetic character
    *  - `ok_stopwords`: >= 2 DISTINCT English stop words present
    */
  def gopherQualityFlags(docs: DataFrame, textCol: String = "text",
                         minWords: Int = 50,
                         maxWords: Int = 100000): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = filter(wsTokens(col(textCol)), w => w =!= "")
    val nW = size(words).cast("long")
    // total word chars == length with ALL whitespace stripped
    val chars = length(regexp_replace(col(textCol), "\\s+", "")).cast("long")
    val symbols = regexp_count(col(textCol), lit("#|\\.{3}|…"))
    val lines = filter(split(col(textCol), "\n"), l => trim(l) =!= "")
    val nL = size(lines).cast("long")
    val bullets = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
      .cast("long")
    val ellipsis = size(filter(lines, l => l.rlike("(\\.{3}|…)\\s*$")))
      .cast("long")
    val alphaW = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(
      transform(words, w => lower(w)),
      array(stop.map(lit): _*)))
    docs
      .withColumn("ok_words", nW >= minWords && nW <= maxWords)
      .withColumn("ok_mean_word_len",
        nW > 0 && lit(3) * nW <= chars && chars <= lit(10) * nW)
      .withColumn("ok_symbols", lit(10) * symbols.cast("long") <= nW)
      .withColumn("ok_bullets", lit(10) * bullets <= lit(9) * nL)
      .withColumn("ok_ellipsis", lit(10) * ellipsis <= lit(3) * nL)
      .withColumn("ok_alpha", lit(5) * alphaW >= lit(4) * nW)
      .withColumn("ok_stopwords", stopHits >= 2)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_word_len") && col("ok_symbols") &&
          col("ok_bullets") && col("ok_ellipsis") && col("ok_alpha") &&
          col("ok_stopwords"))
  }

  /** The Gopher/MassiveText REPETITION filter battery — the second
    * half of the published rule set ([[gopherQualityFlags]] carries
    * the first): templated/looping documents show up as repeated
    * lines, repeated paragraphs, and one dominant word n-gram long
    * before any quality score moves. Thresholds follow the paper:
    * duplicate-line and duplicate-paragraph fraction ≤ 30%, the
    * characters inside those repeats ≤ 20% of their unit's chars, and
    * the most frequent word 2-gram's characters (count × gram length,
    * ties resolved by the larger product) ≤ 20% of the document's
    * non-whitespace chars.
    *
    * Contract details, pinned for oracle replay: lines split on
    * single newlines, paragraphs on 2+ newline runs, both trimmed
    * with empties dropped; "duplicate" = occurrences after the first
    * of each distinct string; every fraction is compared by integer
    * cross-multiplication (e.g. 10·dup ≤ 3·n), so the flags are
    * bit-portable across engines. Scale: the line/paragraph metrics
    * are one narrow codegen'd projection over per-row arrays (no
    * shuffle); the 2-gram max is one explode + two map-side-combined
    * keyed aggregations on (id, gram) — never a corpus-wide window. */
  def repetitionFlags(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    def units(sep: String) =
      filter(transform(split(col(textCol), sep), u => trim(u)), u => u =!= "")
    def sumLen(a: org.apache.spark.sql.Column) =
      aggregate(a, lit(0L), (acc, x) => acc + length(x))
    val toks = filter(wsTokens(lower(col(textCol))), t => t =!= "")
    val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat(element_at(toks, i + 1), lit(" "),
                      element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    // count ≥ 2 only: a gram that occurs once is not repetition — the
    // paper applies its fraction after a ≥50-word floor has dropped
    // the short docs where a singleton gram dominates; this battery
    // stands alone, so the floor moves into the metric itself.
    val top2 = docs
      .select(col(idCol), explode(bigrams).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .groupBy(col(idCol))
      .agg(max(col("__c") * length(col("__g"))).as("top2_chars"))
    docs
      .withColumn("__lines", units("\n"))
      .withColumn("__paras", units("\n{2,}"))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("dup_lines",
        (size(col("__lines")) - size(array_distinct(col("__lines")))).cast("long"))
      .withColumn("line_chars", sumLen(col("__lines")))
      .withColumn("dup_line_chars",
        sumLen(col("__lines")) - sumLen(array_distinct(col("__lines"))))
      .withColumn("n_paras", size(col("__paras")).cast("long"))
      .withColumn("dup_paras",
        (size(col("__paras")) - size(array_distinct(col("__paras")))).cast("long"))
      .withColumn("para_chars", sumLen(col("__paras")))
      .withColumn("dup_para_chars",
        sumLen(col("__paras")) - sumLen(array_distinct(col("__paras"))))
      .withColumn("n_chars",
        length(regexp_replace(col(textCol), "\\s+", "")).cast("long"))
      .join(top2, Seq(idCol), "left")
      .withColumn("top2_chars", coalesce(col("top2_chars"), lit(0L)))
      .withColumn("ok_dup_lines", lit(10) * col("dup_lines") <= lit(3) * col("n_lines"))
      .withColumn("ok_dup_line_chars", lit(5) * col("dup_line_chars") <= col("line_chars"))
      .withColumn("ok_dup_paras", lit(10) * col("dup_paras") <= lit(3) * col("n_paras"))
      .withColumn("ok_dup_para_chars", lit(5) * col("dup_para_chars") <= col("para_chars"))
      .withColumn("ok_top_2gram", lit(5) * col("top2_chars") <= col("n_chars"))
      .withColumn("keep",
        col("ok_dup_lines") && col("ok_dup_line_chars") &&
          col("ok_dup_paras") && col("ok_dup_para_chars") &&
          col("ok_top_2gram"))
      .drop("__lines", "__paras")
  }

  /** WITHIN-document duplicate n-gram coverage — the remaining Gopher
    * repetition rule ([[repetitionFlags]] carries the line/paragraph/
    * top-2-gram rules): the fraction of a document's tokens lying
    * inside some token n-gram that occurs ≥ 2 times in the SAME
    * document. Looping generations and copy-paste spam repeat longer
    * spans than a single dominant 2-gram; the paper's threshold for
    * 5-grams is 15%. Counted in TOKENS (not the paper's chars) — a
    * documented deviation that keeps the metric integer-exact; the
    * flag compares 20·covered ≤ 3·n_tokens.
    *
    * Coverage is a true interval union, not a per-gram sum: marked
    * gram starts sort per document and each contributes
    * min(n, gap-to-previous) — overlapping repeats never double-count.
    * Shape: grams travel as 8-byte hashes; the occurrence count is a
    * (doc, gram)-keyed window, the merge a doc-keyed window over ONLY
    * the marked starts; metrics join back on the id. Nothing
    * corpus-wide, nothing driver-side. */
  def dupNgramCoverage(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    // one-pass native gram kernel (r17, guide §1.2 step 2): token
    // count and the posexplode-ready positional gram-hash array from
    // one traversal — equality classes match the legacy interpreted
    // transform+slice+concat_ws+xxhash64 chain (see GramHashes). The
    // struct lands under ONE alias extracted twice: a non-cheap alias
    // referenced more than once is never inlined by CollapseProject
    // (pinned in GramHashesSpec), so the kernel runs once per row.
    val base = docs.select(col(idCol).as("__id"),
        gramHashes(col(textCol), n).as("__gh"))
      .select(col("__id"),
        col("__gh").getField("nt").cast("long").as("n_tokens"),
        col("__gh").getField("g").as("__garr"))
    val grams = base.select(col("__id"),
      posexplode(col("__garr")).as(Seq("__pos", "__g")))
    val marked = grams
      .withColumn("__c",
        count(lit(1)).over(Window.partitionBy(col("__id"), col("__g"))))
      .filter(col("__c") >= 2)
    val w = Window.partitionBy("__id").orderBy("__pos")
    val covered = marked
      .withColumn("__prev", lag(col("__pos"), 1).over(w))
      .withColumn("__contrib",
        when(col("__prev").isNull, lit(n))
          .otherwise(least(lit(n), col("__pos") - col("__prev"))))
      .groupBy("__id")
      .agg(sum(col("__contrib")).cast("long").as("covered_tokens"))
    val metrics = base.select(col("__id"), col("n_tokens"))
      .join(covered, Seq("__id"), "left")
      .withColumn("covered_tokens", coalesce(col("covered_tokens"), lit(0L)))
      .withColumnRenamed("__id", "__mid")
    docs.join(metrics, col(idCol) === col("__mid"), "left").drop("__mid")
      .withColumn("ok_dup_ngrams",
        lit(20) * col("covered_tokens") <= lit(3) * col("n_tokens"))
  }

  /** Temperature-scaled mixture fractions (the mT5/XLM-R multilingual
    * sampling rule): a stratum's target share is n^alpha renormalized
    * — alpha = 1 keeps the natural mix, alpha → 0 approaches uniform,
    * 0.5 is the field's usual compromise that upweights small strata
    * without letting a mega-stratum starve them. Output per stratum:
    * `n_docs`, `temp_share`, and the `keep_fraction` that realizes the
    * share against `targetDocs` (capped at 1 — an upweight beyond a
    * stratum's size is upsampling, a different op: [[upsampleByStratum]]).
    *
    * Bit-portability: n^alpha rounds to 6 dp and sums as
    * DECIMAL(18,6) — the one cross-stratum reduction is exact and
    * order-independent; shares divide in double afterwards, so every
    * engine computing the same recipe gets the same bits. */
  /** Deterministic weighted interleave key — the data-ORDERING side of
    * mixture control ([[temperatureSample]] decides WHAT to keep; this
    * decides the sequence training reads it in, so every window of the
    * stream realizes the target mixture instead of strata arriving in
    * blocks). Stratum s with weight w emits its rn-th row at
    * `position = (rn − 0.5) / w` — classic weighted fair queuing
    * (WFQ virtual finish times): sorting by `position` yields a
    * sequence whose every prefix holds each stratum's share within
    * one row of w·len. Deterministic: rn is a row_number over
    * (stratum, order by id), position a pure IEEE expression of it.
    *
    * Scale shape: one stratum-keyed window (hash exchange on the
    * stratum), one codegen'd projection. No global window and no
    * global rank — `position` IS the sort key; consumers range-sort
    * by it (Spark's sort is a range exchange), or bucket it for
    * sharded sequential reads. Rows whose stratum has no weight are
    * dropped (flagged by the caller's coverage check, not silently
    * mis-ordered). Output: (id, stratum, stratum_rn, position). */
  def interleaveByWeight(df: DataFrame, strataCol: String, idCol: String,
                         weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0.0), "weights must be positive")
    val w = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
    val wCol = weights.tail.foldLeft(
      when(col(strataCol) === lit(weights.head._1), lit(weights.head._2))) {
      case (acc, (k, v)) => acc.when(col(strataCol) === lit(k), lit(v))
    }
    df.select(col(idCol), col(strataCol).as("stratum"),
        row_number().over(w).as("stratum_rn"), wCol.as("__w"))
      .filter(col("__w").isNotNull)
      .withColumn("position",
        round((col("stratum_rn") - lit(0.5)) / col("__w"), 6))
      .drop("__w")
  }

  def temperatureFractions(df: DataFrame, strataCol: String,
                           alpha: Double, targetDocs: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetDocs > 0, s"targetDocs must be positive, got $targetDocs")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_docs"))
    val powed = counts.withColumn("__w6",
      round(pow(col("n_docs").cast("double"), lit(alpha)), 6)
        .cast("decimal(18,6)"))
    val tot = powed.agg(sum(col("__w6")).as("__tw"))
    powed.crossJoin(tot)
      .withColumn("temp_share",
        col("__w6").cast("double") / col("__tw").cast("double"))
      .withColumn("keep_fraction",
        least(lit(1.0),
          col("temp_share") * lit(targetDocs.toDouble) / col("n_docs")))
      .drop("__w6", "__tw")
  }

  /** Apply [[temperatureFractions]] as a deterministic hash sample:
    * the per-stratum keep fractions come back to the driver (one row
    * per stratum — language/source mixes are dozens of rows, never
    * data-sized) and drive [[stratifiedSample]]'s md5-threshold keep
    * rule, so the sample is a pure function of (corpus, strata,
    * alpha, target) — reproducible across runs and engines. */
  def temperatureSample(df: DataFrame, strataCol: String, keyCol: String,
                        alpha: Double, targetDocs: Long): DataFrame = {
    val fractions = temperatureFractions(df, strataCol, alpha, targetDocs)
      .select(col(strataCol).cast("string"), col("keep_fraction"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a NULL stratum gets counted and allocated a share by
    // temperatureFractions, but stratifiedSample's equality predicate
    // can never match null — its whole allocation would silently
    // vanish and the realized mixture under-shoot the target. Fail
    // loudly instead: fill or filter null strata first.
    require(!fractions.contains(null),
      s"$strataCol contains NULL strata — fill or filter them before " +
        "temperature sampling (a null stratum cannot be matched and its " +
        "allocation would be dropped silently)")
    stratifiedSample(df, strataCol, keyCol, fractions, defaultFraction = 0.0)
  }

  /** Deterministic stratified sample: per-stratum keep fractions, with
    * the keep decision a pure function of the KEY (md5 prefix compared
    * against a per-stratum hex threshold) — reproducible across
    * engines, runs, and corpus growth, unlike `sampleBy`. Strata
    * missing from `fractions` keep `defaultFraction`. A fraction ≥ 1
    * keeps the stratum whole; ≤ 0 drops it. Granularity is 1/16^6
    * (~6e-8). One codegen'd filter — no shuffle, no sampling state:
    * the mixture-rebalancing step of a training-data pipeline. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    def thresholdHex(f: Double): String =
      "%06x".format(math.min(math.max((f * 0x1000000L).toLong, 0L), 0xffffffL))
    val prefix = substring(md5(col(keyCol).cast("string").cast("binary")), 1, 6)
    def keep(f: Double): org.apache.spark.sql.Column =
      if (f >= 1.0) lit(true)
      else if (f <= 0.0) lit(false)
      else prefix < lit(thresholdHex(f))
    val byStratum = fractions.foldLeft(when(lit(false), lit(false))) {
      case (acc, (stratum, f)) => acc.when(col(strataCol) === stratum, keep(f))
    }
    df.filter(byStratum.otherwise(keep(defaultFraction)))
  }

  /** Cap documents per key (the domain-diversity cap of a web-corpus
    * pipeline: at most `cap` documents per source/domain). Survivors
    * are the `cap` smallest by (md5(id), id) — a deterministic
    * pseudo-random choice, a pure function of the id. Runs on a
    * bounded typed aggregator (k-entry buffer per key, map-side
    * combine) rather than a window rank, so a hot key costs O(cap)
    * buffer instead of sorting its whole extent in one reducer; only
    * (key, digest, id-string) triples shuffle — payloads rejoin by id.
    * Output: the input rows of the survivors, unchanged. */
  /** Quantile-calibrated selection: keep the rows at or above the
    * corpus' (1 − frac) score quantile — "the top frac of the corpus
    * by score", the FineWeb/CCNet-style percentile filter — computed
    * EXACTLY and engine-portably, with no global sort and no approx
    * sketch. Scores snap to a fixed `gridDecimals` grid (the file-wide
    * 6-decimal contract), so the quantile reduces to a cumulative
    * count over the DISTINCT grid values: one map-side-combined
    * aggregation (score → count), a running sum over that count table,
    * and the threshold is the largest grid value whose cumulative
    * count reaches ⌈frac·N⌉. Rows AT the threshold are all kept (ties
    * are not broken arbitrarily), so the kept fraction can slightly
    * exceed `frac` — deterministic beats exact-k here; compose with
    * [[capPerKey]]-style id-ordered truncation if exact k matters.
    *
    * Scale shape: the corpus crosses the wire once, as (grid value,
    * count) — the window runs over the count table, whose size is
    * bounded by the number of DISTINCT rounded scores (≤ 10^6·range —
    * for ratio-valued scores in [0, 1], at most a million rows), never
    * by the corpus; the threshold then broadcasts back as a one-row
    * frame. The corpus-sized path is one aggregation + one filter. */
  def selectTopFraction(docs: DataFrame, scoreCol: String, frac: Double,
                        gridDecimals: Int = 6): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    val snapped = round(col(scoreCol), gridDecimals)
    val counts = docs.select(snapped.as("__s"))
      .groupBy("__s").agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = docs.agg(count(lit(1)).as("__n"))
    val thr = counts.withColumn("__cum", sum(col("__c")).over(w))
      .crossJoin(total)
      .filter(col("__cum") >= ceil(col("__n") * frac))
      .agg(max(col("__s")).as("__thr"))
    docs.crossJoin(thr).filter(snapped >= col("__thr")).drop("__thr")
  }

  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
                cap: Int = 1000): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val spark = df.sparkSession
    import spark.implicits._
    val keptIds = df
      .select(col(keyCol).cast("string").as("__k"),
        md5(col(idCol).cast("string").cast("binary")).as("__sort"),
        col(idCol).cast("string").as("__id"))
      .as[(String, String, String)]
      .groupByKey(_._1)
      .mapValues { case (_, sortKey, id) => (sortKey, id) }
      .agg(new graft.functions.FirstKBySortKey(cap).toColumn.name("__ids"))
      .toDF("__k", "__ids")
      .select(explode(col("__ids")).as("__id"))
    df.join(keptIds, df(idCol).cast("string") === keptIds("__id"), "left_semi")
  }

  /** Per-key TOKEN budget — [[capPerKey]]'s unit of account changed to
    * what a model actually trains on: keep each key's deterministic
    * md5-order PREFIX of documents until the cumulative whitespace-
    * token count would exceed `maxTokens` (the first overflowing
    * document stops the key — identical to
    * `sum(cost) over (partition by key order by md5(id), id) <=
    * maxTokens`). A document costs max(1, tokens) so empty documents
    * cannot ride in free (and the aggregation state stays bounded).
    * Same scale shape as [[capPerKey]]: a bounded typed aggregator
    * ([[graft.functions.FirstWithinTokenBudget]]) with map-side
    * combine — a hot source never sorts its full extent under one
    * window reducer; only surviving ids travel. */
  def capTokensPerKey(df: DataFrame, keyCol: String, idCol: String,
                      textCol: String = "text",
                      maxTokens: Long = 1000000L): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val keptIds = df
      .select(col(keyCol).cast("string").as("__k"),
        md5(col(idCol).cast("string").cast("binary")).as("__sort"),
        col(idCol).cast("string").as("__id"),
        size(filter(wsTokens(col(textCol)), t => t =!= "")).cast("long").as("__t"))
      .as[(String, String, String, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, sortKey, id, t) => (sortKey, id, t) }
      .agg(new graft.functions.FirstWithinTokenBudget(maxTokens).toColumn.name("__ids"))
      .toDF("__k", "__ids")
      .select(explode(col("__ids")).as("__id"))
    df.join(keptIds, df(idCol).cast("string") === keptIds("__id"), "left_semi")
  }

  /** Deterministic weighted upsampling — the epoch-mixture step that
    * turns per-source weights ("Wikipedia ×3.5, web ×1") into a
    * materialized training mix: every row reappears ⌊w⌋ times, plus
    * once more for the deterministic md5-keyed fraction of rows that
    * realizes the fractional part, so each stratum's expected copy
    * count is exactly its weight and the choice of which rows get the
    * extra copy is a pure function of the key (reproducible, unlike
    * rand()-based sampling). Output adds a `copy_idx` column (0-based)
    * so downstream shuffles can decorrelate the copies. Weight 0 drops
    * the stratum; strata missing from `weights` keep `defaultWeight`.
    * One codegen'd explode — no shuffle, no state. The md5 input is
    * salted ("up|" + key) so the extra-copy choice is independent of
    * [[stratifiedSample]]/[[trainEvalSplit]] decisions on the same
    * keys. */
  def upsampleByStratum(df: DataFrame, strataCol: String, keyCol: String,
                        weights: Map[String, Double],
                        defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 1000),
      "weights must be in [0, 1000]")
    def thresholdHex(f: Double): String =
      "%06x".format(math.min(math.max((f * 0x1000000L).toLong, 0L), 0xffffffL))
    val prefix = substring(
      md5(concat(lit("up|"), col(keyCol).cast("string")).cast("binary")), 1, 6)
    def copies(w: Double): org.apache.spark.sql.Column = {
      val whole = math.floor(w).toLong
      val frac = w - whole
      if (frac == 0.0) lit(whole)
      else lit(whole) + when(prefix < lit(thresholdHex(frac)), 1L).otherwise(0L)
    }
    val byStratum = weights.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (stratum, w)) => acc.when(col(strataCol) === stratum, copies(w))
    }.otherwise(copies(defaultWeight))
    // sequence(0, -1) would DESCEND ([0, -1]), not yield [] — route the
    // zero-copy case through an empty array so explode drops the row
    df.withColumn("copy_idx",
      explode(when(byStratum > 0, sequence(lit(0L), byStratum - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** PII redaction: replaces e-mail addresses with `<EMAIL>`, IPv4
    * addresses with `<IP>`, and standalone runs of 8+ digits (account
    * numbers, phone numbers, card numbers) with `<ID>`, in that order,
    * as a `redacted` column. Pure codegen'd `regexp_replace` chain
    * (RE2-compatible patterns — no backtracking blowup on adversarial
    * text), one narrow pass, no shuffle. The pattern set is the
    * conservative core every corpus release pass runs; extend by
    * composing further replacements over the output column. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
    val idRun = "\\b\\d{8,}\\b"
    docs.withColumn("redacted",
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), email, "<EMAIL>"),
          ipv4, "<IP>"),
        idRun, "<ID>"))
  }

  /** One-pass corpus report — the summary a release pass prints before
    * and after curation: per-language doc counts, distinct sources,
    * char/byte/whitespace-token totals, mean and p50/p90/p99 document
    * length, plus an `ALL` rollup row. ONE aggregation (ROLLUP = one
    * shuffle, map-side partial aggregation); the exact length
    * percentiles are linear-interpolated order statistics — identical
    * definition to DuckDB's `quantile_cont`, rounded to 6 so the last
    * ulp of the interpolation cannot flip the oracle. At 100 TB the
    * only non-mergeable piece is the exact percentile (it buffers the
    * per-group length multiset); swap in approx_percentile when groups
    * outgrow executor memory — the report contract is the same. */
  def corpusProfile(docs: DataFrame, textCol: String = "text",
                    langCol: String = "lang",
                    srcCol: String = "source"): DataFrame =
    docs.select(col(langCol).as("lang"), col(srcCol).as("source"),
        length(col(textCol)).cast("long").as("chars"),
        octet_length(col(textCol)).cast("long").as("bytes"),
        tokenCount(col(textCol)).cast("long").as("toks"))
      .rollup("lang")
      // grouping() — not NULL-ness — marks the rollup total (it must
      // ride inside the agg, where the grouping id still exists): a
      // corpus with a genuine NULL language keeps its own '(null)'
      // group instead of colliding with the 'ALL' row
      .agg(grouping(col("lang")).as("__total_row"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum("chars").as("total_chars"),
        sum("bytes").as("total_bytes"),
        sum("toks").as("ws_tokens"),
        round(sum("chars").cast("double") / count(lit(1)), 6).as("avg_chars"),
        round(percentile(col("chars"), lit(0.5)), 6).as("p50_chars"),
        round(percentile(col("chars"), lit(0.9)), 6).as("p90_chars"),
        round(percentile(col("chars"), lit(0.99)), 6).as("p99_chars"))
      .select(when(col("__total_row") === 1, lit("ALL"))
          .otherwise(coalesce(col("lang"), lit("(null)"))).as("lang"),
        col("n_docs"),
        col("n_sources"), col("total_chars"), col("total_bytes"),
        col("ws_tokens"), col("avg_chars"), col("p50_chars"),
        col("p90_chars"), col("p99_chars"))

  /** Canonical text normalization — the first stage of every curation
    * pass, so downstream hashing/dedup/fingerprinting see one spelling
    * of each document. Adds `outCol` with, in order:
    *
    *  1. Unicode NFC composition (native codegen'd expression;
    *     ASCII short-circuits with zero allocation);
    *  2. CRLF / bare-CR line endings → LF;
    *  3. control characters stripped (C0 minus `\n`/`\t`, plus DEL);
    *  4. zero-width characters removed (ZWSP/ZWNJ/ZWJ/BOM);
    *  5. horizontal-whitespace runs (spaces, tabs) → one space;
    *  6. 3+ consecutive newlines → exactly two (paragraph break);
    *  7. leading/trailing spaces and newlines trimmed.
    *
    * One narrow codegen'd pass — no shuffle, no UDF; the regexes are
    * RE2-compatible (no backtracking blowup), and the step order is a
    * CONTRACT (the DuckDB oracle mirrors it verbatim). Idempotent:
    * normalizing already-normal text is the identity. */
  def normalizeText(docs: DataFrame, textCol: String = "text",
                    outCol: String = "norm_text"): DataFrame = {
    val nfc = nfcNormalize(col(textCol))
    val lf = regexp_replace(nfc, "\\r\\n?", "\n")
    val ctrl = regexp_replace(lf, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val zw = regexp_replace(ctrl, "[\\x{200B}-\\x{200D}\\x{FEFF}]", "")
    val hws = regexp_replace(zw, "[ \\t]+", " ")
    val para = regexp_replace(hws, "\\n{3,}", "\n\n")
    docs.withColumn(outCol, trim(para, " \n"))
  }

  /** Deterministic training-order shuffle: a reproducible global
    * permutation of the corpus — same (data, seed) → same order across
    * runs, engines and cluster sizes, the property that makes a
    * training run repeatable and an ablation comparable. The order key
    * is `md5(seed | id)` (engine-portable, unlike builtin hash
    * functions), so the permutation is a pure function of the data.
    *
    * Adds a 1-based `shuffle_rank`. The global rank is the classic
    * two-pass distributed shape — range-partitioned sort on the key,
    * then `zipWithIndex` (a partition-count pass + per-partition
    * offsets) — NOT `row_number()` over an unpartitioned window,
    * which would funnel the corpus through one task. The one RDD hop
    * exits codegen for the final rank attach only; everything before
    * it is a plain range exchange. */
  def deterministicShuffle(df: DataFrame, idCol: String,
                           seed: Long = 42): DataFrame = {
    val s = df.sparkSession
    val keyed = df.withColumn("__k",
      md5(concat(lit(seed.toString), lit("|"), col(idCol).cast("string"))))
    val sorted = keyed
      .repartitionByRange(col("__k"), col(idCol))
      .sortWithinPartitions(col("__k"), col(idCol))
    val out = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "shuffle_rank", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L)) }
    s.createDataFrame(ranked, out).drop("__k")
  }

  /** Labeled form of [[keyedSample]]: adds a `split` column — 'eval'
    * for rows whose md5(key) digest starts with one of `evalPrefixes`
    * (default 2/16, a deterministic 1/8 holdout), 'train' otherwise.
    * Same reproducibility contract: the split is a pure function of
    * the key, stable across engines, runs, and corpus growth. */
  def trainEvalSplit(df: DataFrame, keyCol: String,
                     evalPrefixes: Seq[String] = Seq("0", "1")): DataFrame = {
    require(evalPrefixes.nonEmpty)
    val len = evalPrefixes.head.length
    require(evalPrefixes.forall(_.length == len), "prefixes must share a length")
    df.withColumn("split",
      when(substring(md5(col(keyCol).cast("string").cast("binary")), 1, len)
        .isin(evalPrefixes: _*), "eval").otherwise("train"))
  }

  /** Fit a char-bigram language model DRIVER-SIDE on a bounded,
    * deterministic sample of the corpus — the quality-model analogue of
    * the IVF quantizer fit (Similarity.fitCentroids): md5-order the
    * documents, take the first `sampleN` texts (one TakeOrdered job,
    * driver memory bounded by sampleN × doc size), accumulate
    * Laplace-smoothed 27-symbol bigram counts locally. The returned
    * model is 27² log-probs (~6 KB) — foldable into a scoring plan as
    * a literal. This is the CCNet shape: the LM that scores a 100 TB
    * corpus is trained once on a bounded sample of reference text, not
    * distributed-fit over the corpus. Train on a CLEAN reference corpus
    * and low [[lmScore]]s flag gibberish/boilerplate for filtering. */
  def fitCharBigramLm(docs: DataFrame, textCol: String = "text",
                      sampleN: Int = 2048, seed: Long = 42): Array[Double] = {
    import graft.functions.expr.CharLm
    val sample = docs.select(col(textCol))
      .where(col(textCol).isNotNull)
      .orderBy(md5(concat(col(textCol), lit(seed.toString))))
      .limit(sampleN)
      .collect().map(_.getString(0))
    require(sample.nonEmpty, "cannot fit a language model on an empty corpus")
    val counts = Array.fill(CharLm.Symbols * CharLm.Symbols)(1L) // Laplace
    sample.foreach(CharLm.accumulate(_, counts))
    CharLm.logProbs(counts)
  }

  /** Train a subword (BPE) vocabulary on the corpus — the real-
    * tokenizer upgrade over [[tokenStats]]' regex approximation, so
    * token budgeting, packing and cost accounting can run under an
    * actual subword vocab. Word frequencies come from ONE distributed
    * aggregation; only the top `maxWords` (word, count) pairs — KBs —
    * reach the driver, where the BPE merge loop runs to `vocabSize`
    * symbols (ties break lexicographically: the vocabulary is a pure
    * function of the corpus). The standard fit-bounded / apply-
    * distributed shape: at 100 TB the aggregation is the only
    * corpus-sized step and it's map-side combined. */
  def fitSubwordVocab(docs: DataFrame, textCol: String = "text",
                      vocabSize: Int = 512,
                      maxWords: Int = 4096): Array[String] = {
    import graft.functions.expr.Subword
    val counts = docs
      .select(explode(wsTokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(counts.nonEmpty, "cannot fit a vocabulary on an empty corpus")
    Subword.fit(counts, vocabSize)
  }

  /** Tokenize every document under a fitted subword vocabulary: adds
    * `tokCol` (the `array<string>` pieces, `##`-prefixed
    * continuations, `[UNK]` for unsegmentable words) and
    * `n_subwords`. One narrow pass; the vocabulary rides in the
    * expression. */
  def subwordTokenize(docs: DataFrame, vocab: Array[String],
                      textCol: String = "text",
                      tokCol: String = "subword_tokens"): DataFrame = {
    val toks = subwordTokens(lower(col(textCol)), vocab)
    docs.withColumn(tokCol, toks)
      .withColumn("n_subwords", size(col(tokCol)).cast("long"))
  }

  /** Score every document under a fitted char-bigram model: adds
    * `scoreCol` = mean transition log-probability (higher = more like
    * the training text; gibberish scores sharply lower). One narrow
    * pass — the model rides in the expression, so there is no join and
    * nothing to broadcast. Filter on the score for CCNet-style
    * perplexity curation. */
  def lmScore(docs: DataFrame, model: Array[Double],
              textCol: String = "text",
              scoreCol: String = "lm_score"): DataFrame =
    docs.withColumn(scoreCol, charBigramScore(col(textCol), model))

  /** CCNet-style perplexity buckets: score every document under the
    * fitted char-bigram model and split the corpus into head / middle
    * / tail thirds by score (head = most natural under the model —
    * CCNet trains on Wikipedia and keeps the head for quality, mines
    * the middle, drops the tail). Thresholds are EXACT tercile
    * crossings over the score grid: sorted desc, t_head = the score
    * where the cumulative count first reaches ⌈N/3⌉ (3·cum ≥ N in
    * integers), ties share the better bucket — deterministic, no
    * approximate percentile. The grid window is over the DISTINCT
    * score table (the q130 bound — grid cardinality, never the
    * corpus); thresholds cross back as a 1-row broadcast and the
    * bucket label is a narrow projection. */
  def perplexityBuckets(docs: DataFrame, model: Array[Double],
                        textCol: String = "text"): DataFrame = {
    val scored = lmScore(docs, model, textCol)
    val grid = scored.groupBy(col("lm_score")).agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("lm_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("__cum", sum(col("__c")).over(w))
    val tot = scored.agg(count(lit(1)).as("__n"))
    val th = cum.crossJoin(tot).agg(
      max(when(lit(3) * col("__cum") >= col("__n"), col("lm_score"))).as("__t_head"),
      max(when(lit(3) * col("__cum") >= lit(2) * col("__n"), col("lm_score"))).as("__t_tail"))
    scored.crossJoin(th)
      .withColumn("ppl_bucket",
        when(col("lm_score") >= col("__t_head"), lit("head"))
          .when(col("lm_score") >= col("__t_tail"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__t_head", "__t_tail")
  }

  /** BM25 top-k document retrieval for a literal query string — the
    * classic probabilistic ranking (Robertson/Spärck Jones, the
    * Lucene-default scoring shape with the (k1+1) numerator):
    *
    *   score(d) = Σ_t ln(1 + (N − df_t + ½)/(df_t + ½))
    *              · tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl))
    *
    * Spark-first plan, no inverted index needed for one-shot scoring:
    * ONE corpus scan computes per-document (dl, tf per query term) off
    * a single tokens array (whitespace tokens, lowercased, empties
    * dropped — the q51/q61 tokenizer); the corpus statistics
    * (N, avgdl, per-term df) ride as a ONE-ROW aggregate cross-joined
    * into the same plan (the q61 pattern — no separate count() pass);
    * non-matching documents are filtered before anything shuffles; the
    * final top-k is a bounded TakeOrdered, never a global sort. At
    * 100 TB that is: one narrow pass, a metadata-sized aggregate
    * exchange, and a k-row result. Query terms are deduplicated and
    * sorted, so scoring order — and therefore the float sum — is a
    * pure function of the query SET. Scores are rounded to 6 decimals
    * BEFORE ranking so the ordering is reproducible across engines.
    * Output: (rank, doc_id, dl, score), rank 1 = best. */
  /** Feature row for the quality classifier: fixed, deterministic,
    * codegen'd text statistics (bias, damped log-length, punctuation
    * ratio, English stopword ratio, damped mean token length, token
    * density). Scaling keeps every feature O(1) so plain gradient
    * descent converges without per-corpus standardization — the model
    * must be a pure function of (sample, hyperparameters) to refit
    * reproducibly. */
  private def qcFeatures(text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = Seq(
    lit(1.0),
    log(lit(1.0) + length(text)) / 10.0,
    punctRatio(text),
    stopwordRatio(text, langMarkers("en")),
    meanTokenLen(text) / 10.0,
    tokenCount(text).cast("double") / (length(text) + lit(1.0)) * 5.0)

  /** Fit a logistic-regression text-quality classifier DRIVER-SIDE on
    * a bounded, deterministic sample of a labeled corpus — the
    * fastText-style quality-filter stage (label 1 = reference-quality,
    * 0 = junk), in the same shape as the IVF quantizer and char-bigram
    * LM fits: features are computed IN the plan (one narrow pass), the
    * sample is md5-ordered and bounded (`sampleN` rows × 6 doubles of
    * driver memory), and batch gradient descent with a fixed iteration
    * count is exactly reproducible — same corpus, same seed, same
    * weights, bit for bit. The md5 sample key covers (text, label,
    * seed) so boundary and ordering ties are identical rows and cannot
    * perturb the float gradient sums. Returns the 6 weights. */
  def fitQualityClassifier(labeled: DataFrame, labelCol: String = "label",
                           textCol: String = "text", sampleN: Int = 4096,
                           seed: Long = 42, iters: Int = 200,
                           lr: Double = 0.5): Array[Double] = {
    val feats = qcFeatures(col(textCol))
    val data = labeled
      .where(col(textCol).isNotNull && col(labelCol).isNotNull)
      .select(md5(concat(col(textCol).cast("binary"),
          col(labelCol).cast("string").cast("binary"),
          lit(seed.toString).cast("binary"))).as("k") +:
        col(labelCol).cast("double").as("y") +:
        feats.zipWithIndex.map { case (f, i) => f.as(s"f$i") }: _*)
      .orderBy(col("k")).limit(sampleN)
      .collect()
      .map(r => (r.getDouble(1), Array.tabulate(feats.length)(j => r.getDouble(2 + j))))
    require(data.nonEmpty, "cannot fit a classifier on an empty sample")
    require(data.exists(_._1 > 0.5) && data.exists(_._1 < 0.5),
      "sample must contain both classes")
    val d = feats.length
    val w = new Array[Double](d)
    var it = 0
    while (it < iters) {
      val g = new Array[Double](d)
      data.foreach { case (y, x) =>
        var z = 0.0; var j = 0
        while (j < d) { z += w(j) * x(j); j += 1 }
        val e = 1.0 / (1.0 + math.exp(-z)) - y
        j = 0
        while (j < d) { g(j) += e * x(j); j += 1 }
      }
      var j = 0
      while (j < d) { w(j) -= lr * g(j) / data.length; j += 1 }
      it += 1
    }
    w
  }

  /** Score documents under a fitted quality classifier: adds
    * `scoreCol` = σ(w·features) ∈ (0, 1), higher = more like the
    * positive (reference-quality) class. The weights ride in the
    * expression — one narrow codegen'd pass, no join, no broadcast,
    * nothing driver-side. Filter on the score for classifier-based
    * quality curation. */
  def classifierScore(docs: DataFrame, weights: Array[Double],
                      textCol: String = "text",
                      scoreCol: String = "qc_score"): DataFrame = {
    val feats = qcFeatures(col(textCol))
    require(weights.length == feats.length,
      s"expected ${feats.length} weights, got ${weights.length}")
    val z = feats.zip(weights).map { case (f, wt) => f * lit(wt) }.reduce(_ + _)
    docs.withColumn(scoreCol, lit(1.0) / (lit(1.0) + exp(-z)))
  }

  def searchBm25(docs: DataFrame, query: String, idCol: String = "doc_id",
                 textCol: String = "text", k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.sorted.toSeq
    require(qTerms.nonEmpty, "query must contain at least one term")
    require(k > 0, "k must be positive")
    // tokens materialized once in their own projection: CollapseProject
    // keeps the split out of the per-term filters because the alias is
    // referenced |terms|+1 times and split() is not collapse-cheap
    val withToks = docs.select(col(idCol).as("doc_id"),
      filter(wsTokens(lower(col(textCol))), t => t =!= "").as("ts"))
    val perDoc = withToks.select(
      col("doc_id") +: size(col("ts")).as("dl") +:
        qTerms.zipWithIndex.map { case (t, i) =>
          size(filter(col("ts"), x => x === lit(t))).as(s"tf_$i")
        }: _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        qTerms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1).otherwise(0)).cast("double").as(s"df_$i")): _*)
    val matched = perDoc.filter(
      qTerms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
    val score = qTerms.indices.map { i =>
      val tf = col(s"tf_$i"); val df = col(s"df_$i")
      log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5))) *
        (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    val top = matched.crossJoin(stats)
      .withColumn("score", round(score, 6))
      .select(col("doc_id"), col("dl"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    // rank assignment runs AFTER the bounded top-k, over ≤ k rows —
    // the single-partition window never sees the corpus
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("dl"), col("score"))
  }

  /** Batch BM25: top-k retrieval for a whole QUERY TABLE — the
    * inverted-index join shape, which is how retrieval actually runs
    * at corpus scale (one literal query is [[searchBm25]]'s one-scan
    * special case; a million queries are not a million scans):
    *
    *   postings  = explode docs    → (doc_id, term, tf)   [one keyed agg]
    *   qterms    = explode queries → (query_id, term)     [distinct]
    *   matched   = qterms ⋈ postings ON term              [THE IR join]
    *   score     = Σ_term idf·sat(tf, dl)  per (query, doc)
    *
    * Every join is a keyed equi-join (term, doc_id); df/avgdl/N ride
    * as a term-keyed frame and a one-row aggregate — nothing is
    * hinted, so AQE broadcasts the query/df sides while they fit and
    * degrades to shuffled joins when they don't. Per-term
    * contributions are rounded to 6 decimals and summed as
    * DECIMAL(18,6) — partial-aggregation ORDER cannot change the
    * score (the package's decimal-sum rule), which is what makes a
    * float ranking reproducible across engines and cluster layouts.
    * Top-k per query is a query-keyed window over only the matched
    * candidates. Output: (query_id, rank, doc_id, score). */
  def searchBm25All(docs: DataFrame, queries: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id", queryTextCol: String = "query",
                    k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = filter(wsTokens(lower(col(textCol))), t => t =!= "")
    val docToks = docs.select(col(idCol).as("doc_id"), toks.as("ts"))
    val dls = docToks.select(col("doc_id"), size(col("ts")).as("dl"))
    val postings = docToks
      .select(col("doc_id"), explode(col("ts")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = dls.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(filter(wsTokens(lower(col(queryTextCol))), t => t =!= "")).as("term"))
      .distinct()
    val contrib = round(
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))),
      6).cast("decimal(18,6)")
    val scored = qterms
      .join(postings, "term")
      .join(dfs, "term")
      .join(dls, "doc_id")
      .crossJoin(corpus)
      .withColumn("c", contrib)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Hashed n-gram features for importance weighting: unigrams +
    * bigrams of the q51/q61 tokenizer, each folded into a 2³²-bucket
    * hashed feature space. The bucket key is the first 8 hex chars of
    * md5 — a STRING key, deliberately: it is engine-portable (no
    * hex→int arithmetic to replicate) and collision-folding is part of
    * the method's contract, not an accident. */
  /** The DSIR feature extraction: md5-bucketed unigrams + bigrams.
    * Routed through the native one-pass expression
    * ([[graft.functions.expr.HashedGramFeatures]]) — the HOF
    * formulation below is bit-identical (ApiSpec pins it) but
    * CodegenFallback with three SQL-array allocations per document,
    * and it dominated both DSIR bench queries. */
  private[graft] def hashedNgramFeatures(text: org.apache.spark.sql.Column) =
    graft.functions.TextFunctions.hashedGramFeatures(text)

  /** The original higher-order-function formulation, kept ONLY as the
    * independent parity oracle for the native expression (ApiSpec). */
  private[graft] def hashedNgramFeaturesHof(text: org.apache.spark.sql.Column) = {
    val toks = filter(wsTokens(lower(text)), t => t =!= "")
    val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat(element_at(toks, i + 1), lit(" "),
                      element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bigrams),
      g => substring(md5(g.cast("binary")), 1, 8))
  }

  /** Per-feature counts over a corpus: one explode + one map-side-
    * combined aggregation; output is at most one row per DISTINCT
    * hashed feature (≤ 2³²), not per occurrence. */
  private def hashedFeatureCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(hashedNgramFeatures(col(textCol))).as("f"))
      .groupBy("f").agg(count(lit(1)).as("c"))

  /** DSIR-style importance weights (data selection via importance
    * resampling): score every raw-corpus document by how much more
    * likely its hashed n-gram features are under the TARGET corpus'
    * feature distribution than under the raw corpus' own —
    *
    *   logw(d) = Σ_f∈d [ ln p̂_tgt(f) − ln p̂_raw(f) ]
    *
    * with add-α smoothing over the 2³² hashed buckets, so features the
    * target never saw still get a (heavily penalized) finite weight.
    * High logw ⇒ the document "sounds like" the target domain; select
    * with [[dsirSelect]]. Per-feature log-ratios round to 6 decimals
    * and sum through DECIMAL(18,6) (the file-wide contract), so the
    * weight is a pure function of the two corpora — partial-aggregation
    * order, engine, and run cannot change it.
    *
    * Shape at 100 TB: the two distribution fits are single map-side-
    * combined aggregations (the target is typically a bounded reference
    * sample — its count table broadcasts; the raw count table is
    * feature-keyed and joins shuffle-to-shuffle); the scoring pass is
    * one explode + two keyed equi-joins + one per-doc aggregation. No
    * driver-side model, no collects, nothing corpus-sized on one node.
    * Output: every raw column + (dsir_logw, n_features); featureless
    * documents (empty/whitespace text) get logw 0 and n_features 0. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive for smoothing, got $alpha")
    val buckets = math.pow(2.0, 32) // 16^8 hashed feature space
    // the raw corpus' gram table feeds its OWN count fit AND the
    // scoring join — materialize it once instead of exploding +
    // md5-hashing the corpus text twice in one plan; MATERIALIZED result
    PlanAudit.scope { s =>
      val grams = s.checkpoint(
        raw.select(col(idCol).as("__id"),
          explode(hashedNgramFeatures(col(textCol))).as("f")))
      val tgtCounts = hashedFeatureCounts(target, textCol)
        .withColumnRenamed("c", "ct")
      // identical by construction to hashedFeatureCounts(raw): the same
      // explode, id column dropped before the map-side-combined count
      val rawCounts = grams.groupBy("f").agg(count(lit(1)).as("cr"))
      val totals = tgtCounts.agg(sum(col("ct")).as("nt"))
        .crossJoin(rawCounts.agg(sum(col("cr")).as("nr")))
      val term = round(
        log((coalesce(col("ct"), lit(0L)) + alpha) / (col("nt") + alpha * buckets))
          - log((col("cr") + alpha) / (col("nr") + alpha * buckets)),
        6).cast("decimal(18,6)")
      val scored = grams
        .join(tgtCounts, Seq("f"), "left")
        .join(rawCounts, Seq("f")) // inner: a raw gram is always counted
        .crossJoin(totals)
        .withColumn("__w", term)
        .groupBy("__id")
        .agg(sum(col("__w")).cast("double").as("dsir_logw"),
             count(lit(1)).as("n_features"))
      s.keep(s.checkpoint(
        raw.join(scored, raw(idCol) === scored("__id"), "left")
          .drop("__id")
          .withColumn("dsir_logw", coalesce(col("dsir_logw"), lit(0.0)))
          .withColumn("n_features", coalesce(col("n_features"), lit(0L)))))
    }
  }

  /** Freeze the DSIR model: per-feature 6dp-rounded log-ratio terms as
    * a (f, w) table plus the constant for features NEITHER corpus ever
    * saw — ln((0+α)/(Nt+αB)) − ln((0+α)/(Nr+αB)) collapses to
    * ln((Nr+αB)/(Nt+αB)), independent of the feature. Fit once on a
    * corpus snapshot, then score every future shard with
    * [[scoreImportance]] — one left join against a static table — the
    * same frozen-model discipline as the quality classifier and the
    * persisted IVF quantizer: selection thresholds stay comparable
    * across shards because the model cannot drift under them. The
    * model table has one row per distinct feature of the UNION of both
    * corpora (the raw side outer-joins the target side so
    * target-only features keep their strong positive weights). */
  def fitImportanceModel(raw: DataFrame, target: DataFrame,
                         textCol: String = "text",
                         alpha: Double = 1.0): (DataFrame, Double) = {
    require(alpha > 0, s"alpha must be positive for smoothing, got $alpha")
    val buckets = math.pow(2.0, 32)
    val tgtCounts = hashedFeatureCounts(target, textCol)
      .withColumnRenamed("c", "ct")
    val rawCounts = hashedFeatureCounts(raw, textCol)
      .withColumnRenamed("c", "cr")
    val totals = tgtCounts.agg(sum(col("ct")).as("nt"))
      .crossJoin(rawCounts.agg(sum(col("cr")).as("nr")))
    val trow = totals.head()
    require(!trow.isNullAt(0) && !trow.isNullAt(1),
      "cannot fit an importance model on a featureless corpus")
    val nt = trow.getLong(0).toDouble
    val nr = trow.getLong(1).toDouble
    val model = rawCounts.join(tgtCounts, Seq("f"), "full")
      .select(col("f"), round(
        log((coalesce(col("ct"), lit(0L)) + alpha) / (nt + alpha * buckets))
          - log((coalesce(col("cr"), lit(0L)) + alpha) / (nr + alpha * buckets)),
        6).as("w"))
    val default = BigDecimal(
      math.log((nr + alpha * buckets) / (nt + alpha * buckets)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (model, default)
  }

  /** Score ANY document frame — batch or streaming — under a frozen
    * [[fitImportanceModel]]: explode hashed features, left-join the
    * model table (a stream-static equi-join under Structured
    * Streaming), take `default` for unseen features, and sum through
    * DECIMAL(18,6). On the corpus the model was fitted on this is
    * bit-identical to [[importanceWeights]] (same per-feature rounded
    * terms, same order-insensitive decimal sum) — proven by the q125
    * contract; on new shards it is the only correct form, because
    * refitting per shard would re-anchor the weight scale. */
  def scoreImportance(docs: DataFrame, model: DataFrame, default: Double,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = scoreImportanceCore(docs, model, default, idCol, textCol)
      .withColumnRenamed(idCol, "__id")
    docs.join(scored, docs(idCol) === scored("__id"), "left")
      .drop("__id")
      .withColumn("dsir_logw", coalesce(col("dsir_logw"), lit(0.0)))
      .withColumn("n_features", coalesce(col("n_features"), lit(0L)))
  }

  /** Streaming form of [[scoreImportance]]: the model join is a
    * stream-STATIC equi-join and the per-doc sum a streaming
    * aggregation (run it Complete, or Append under a watermark), but
    * the batch form's join-back of the original columns would be a
    * join-after-aggregation — unsupported in Structured Streaming — so
    * this form returns only (id, dsir_logw, n_features) and
    * featureless documents are ABSENT rather than zero-scored.
    * Weights are bit-identical to the batch form (same rounded terms,
    * same decimal sum). */
  def scoreImportanceStreaming(docs: DataFrame, model: DataFrame, default: Double,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame =
    scoreImportanceCore(docs, model, default, idCol, textCol)

  private def scoreImportanceCore(docs: DataFrame, model: DataFrame,
                                  default: Double, idCol: String,
                                  textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(hashedNgramFeatures(col(textCol))).as("f"))
      .join(model, Seq("f"), "left")
      .groupBy(idCol)
      .agg(sum(coalesce(col("w"), lit(default)).cast("decimal(18,6)"))
        .cast("double").as("dsir_logw"),
        count(lit(1)).as("n_features"))

  /** Importance RESAMPLING over [[importanceWeights]]: keep the k
    * raw-corpus documents ranked by perturbed weight. With
    * `gumbelSeed` set this is the paper's Gumbel-top-k — equivalent to
    * sampling k documents without replacement with probability ∝ the
    * importance weights — with the Gumbel noise derived from
    * md5(seed|id), so the "random" draw is a pure function of
    * (corpus, seed): reruns and engines agree. Without a seed it is
    * deterministic head-of-ranking selection (temperature → 0). Either
    * way the selection is a bounded TakeOrdered (ties break on id) —
    * never a global sort — so k rows, not the corpus, is what moves. */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 alpha: Double = 1.0,
                 gumbelSeed: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val weighted = importanceWeights(raw, target, idCol, textCol, alpha)
    val key = gumbelSeed match {
      case Some(seed) =>
        // u ∈ (0,1) from 48 md5 bits of (seed|id); g = −ln(−ln u)
        val u = (conv(substring(md5(concat(lit(seed.toString), lit("|"),
            col(idCol).cast("string")).cast("binary")), 1, 12), 16, 10)
          .cast("double") + lit(0.5)) / lit(math.pow(16.0, 12))
        col("dsir_logw") - log(-log(u))
      case None => col("dsir_logw")
    }
    weighted.withColumn("__key", key)
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .drop("__key")
  }
}
