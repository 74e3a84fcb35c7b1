package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Text-analysis operators for training-data curation (SURVEY §2.3):
  * quality scoring, token counting, language ID, document fingerprinting.
  *
  * Everything is per-row narrow work out of Spark SQL built-ins — no UDFs,
  * no shuffle except the explicit aggregations — so the whole module stays
  * inside whole-stage codegen and scales linearly with the corpus.
  * All arithmetic is engine-portable for the DuckDB oracle.
  */
object TextAnalysis {

  /** Small fixed stopword list used by the quality score. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** The quality metric expressions, shared by [[quality]] (which reports
    * them) and [[qualityFilter]] (which thresholds them inline so the
    * filter stays a narrow, join-free pass).
    */
  private def qualityMetrics(textCol: String): Seq[(String, Column)] = {
    val ws = T.words(col(textCol))
    val nWords = size(ws)
    val nAlnumSpace = length(regexp_replace(col(textCol), "[^A-Za-z0-9 ]", ""))
    Seq(
      "n_chars" -> length(col(textCol)).cast("long"),
      "n_words" -> nWords.cast("long"),
      "n_distinct_words" -> size(array_distinct(ws)).cast("long"),
      // type-token ratio
      "ttr" -> round(size(array_distinct(ws)).cast("double") / nWords.cast("double"), 6),
      "stopword_ratio" -> round(
        size(filter(ws, w => w.isInCollection(Stopwords))).cast("double")
          / nWords.cast("double"), 6),
      "punct_ratio" -> round((length(col(textCol)) - nAlnumSpace).cast("double")
        / length(col(textCol)).cast("double"), 6),
      "mean_word_len" -> round((length(col(textCol)) - nWords + 1).cast("double")
        / nWords.cast("double"), 6))
  }

  /** Per-document quality metrics: sizes, lexical diversity, stopword
    * ratio, punctuation ratio, mean word length. The classic cheap filters
    * (Gopher/C4-style) are thresholds over exactly these columns.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id")
      +: qualityMetrics(textCol).map { case (n, c) => c.as(n) }: _*)

  /** C4/Gopher-style quality FILTER: keep rows passing every threshold,
    * schema unchanged. A pure narrow filter over the same codegen'd
    * metric expressions as [[quality]] — no join back, no shuffle, and
    * the predicate reaches the scan as a data filter at any corpus size.
    * Bounds are inclusive; thresholds compare the 6dp-rounded ratios (the
    * values [[quality]] reports), so filter and report always agree.
    */
  def qualityFilter(df: DataFrame, textCol: String,
      minChars: Long = 50, maxChars: Long = 100000,
      minWords: Long = 10, minTtr: Double = 0.1,
      minStopwordRatio: Double = 0.0, maxPunctRatio: Double = 0.3): DataFrame = {
    val m = qualityMetrics(textCol).toMap
    df.where(m("n_chars").between(minChars, maxChars)
      && m("n_words") >= minWords
      && m("ttr") >= minTtr
      && m("stopword_ratio") >= minStopwordRatio
      && m("punct_ratio") <= maxPunctRatio)
  }

  /** Text normalization for dedup / tokenization pre-passes: lowercase,
    * URLs and emails redacted to placeholder tokens, digit runs collapsed
    * to `0`, whitespace runs collapsed, trimmed. Replaces `textCol` in
    * place so the stage composes with every downstream text operator.
    * Pure narrow codegen'd column work; the patterns are deliberately
    * simple enough to mean the same thing in Java regex and RE2, so any
    * engine replays the normalization byte-for-byte.
    */
  def normalize(df: DataFrame, textCol: String,
      redactUrls: Boolean = true, redactEmails: Boolean = true): DataFrame = {
    var c: Column = lower(col(textCol))
    if (redactUrls) c = regexp_replace(c, "https?://[^ ]+", "<url>")
    if (redactEmails)
      c = regexp_replace(c, "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<email>")
    c = regexp_replace(c, "[0-9]+", "0")
    c = trim(regexp_replace(c, " +", " "))
    df.withColumn(textCol, c)
  }

  /** Token counts: whitespace tokens and a BPE-ish regex tokenization
    * (letter runs | digit runs | single other non-space char) — the
    * standard pre-tokenizer shape. `chars_per_token` is the usual
    * compression diagnostic.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    df.select(
      col(idCol).as("doc_id"),
      size(T.words(col(textCol))).cast("long").as("ws_tokens"),
      regexp_count(col(textCol), lit(pattern)).cast("long").as("re_tokens"),
      round(length(col(textCol)).cast("double")
        / regexp_count(col(textCol), lit(pattern)).cast("double"), 6)
        .as("chars_per_token"))
  }

  /** Per-document lexical-diversity signals — the vocabulary-richness
    * quality family beside length/punct ratios ([[quality]]) and
    * char entropy ([[charEntropy]]): type-token ratio (distinct words /
    * total words) and hapax ratio (once-only words / total words). Low
    * TTR flags templated or repetitive machine text the way Gopher's
    * distinct-word fraction does; a high hapax share on a long doc flags
    * gibberish/OCR noise. Output: (doc_id, n_tokens, n_types, ttr,
    * hapax_ratio), zeros for token-less docs, ratios at 6dp.
    *
    * Shape at scale: one word explode into a map-side-combined
    * (doc, word) count, then a types-bounded per-doc rollup — two
    * shuffles, rows never exceed the per-doc vocabulary after the first.
    */
  def lexicalDiversity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val wc = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ", -1)).as("__w"))
      .where(length(col("__w")) > 0)
      .groupBy(col("doc_id"), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val agg = wc.groupBy("doc_id").agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__hapax"))
    df.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(round(col("n_types").cast("double")
          / col("n_tokens").cast("double"), 6), lit(0d)).as("ttr"),
        coalesce(round(col("__hapax").cast("double")
          / col("n_tokens").cast("double"), 6), lit(0d)).as("hapax_ratio"))
  }

  /** Chao1 richness estimate of the CORPUS vocabulary (Chao 1984, the
    * ecology species-richness estimator applied to word types): how many
    * distinct words the corpus-generating source has, including the ones
    * this sample hasn't surfaced yet —
    *
    *   chao1 = D + f1·(f1−1) / (2·(f2+1))
    *
    * with D the observed type count and f1/f2 the singleton/doubleton
    * type counts (bias-corrected form: defined even at f2 = 0). The gap
    * chao1 − D says how much vocabulary another crawl of the same source
    * would add — the "is more data from this source worth it" diversity
    * readout beside [[lexicalDiversity]]'s per-doc TTR and
    * [[headCoverage]]'s Zipf curve. All inputs are exact integers; the
    * estimate is the single double expression, 6dp. Output is ONE row:
    * (n_tokens, n_types, f1, f2, chao1).
    *
    * Shape at scale: one word explode into a map-side-combined word
    * count (the shuffle carries one partial per distinct word per
    * partition), then a one-row rollup. The corpus never shuffles.
    */
  def chao1(df: DataFrame, textCol: String): DataFrame = {
    df.select(explode(split(col(textCol), " ", -1)).as("__w"))
      .where(length(col("__w")) > 0)
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum("__c"), lit(0L)).as("n_tokens"),
        count(lit(1)).as("n_types"),
        coalesce(sum(when(col("__c") === 1, 1L).otherwise(0L)), lit(0L))
          .as("f1"),
        coalesce(sum(when(col("__c") === 2, 1L).otherwise(0L)), lit(0L))
          .as("f2"))
      .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        round(col("n_types").cast("double")
          + (col("f1") * (col("f1") - 1)).cast("double")
            / ((col("f2") + 1) * 2).cast("double"), 6).as("chao1"))
  }

  /** Fixed-size token-window chunking with overlap — the standard
    * pre-training / retrieval prep step (long documents become model-sized
    * pieces; the overlap keeps boundary context). Chunk `i` covers words
    * `[i*stride, i*stride + chunkSize)` with `stride = chunkSize -
    * overlap`; the last chunk may be short; a document shorter than one
    * chunk yields itself. One row per chunk:
    * (doc_id, chunk_id, chunk_text, n_chunk_tokens).
    *
    * Pure narrow explode — no shuffle, no state; output row count is
    * ~n_tokens/stride per document, each row a bounded slice. All
    * arithmetic is integer (floor division), so any engine replays the
    * chunk boundaries exactly.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val ws = T.words(col(textCol))
    val nChunks = greatest(lit(1L),
      floor((size(ws) - lit(overlap) + lit(stride) - 1).cast("double") / stride)
        .cast("long"))
    df.select(col(idCol).as("doc_id"), ws.as("__ws"), nChunks.as("__nc"))
      .select(col("doc_id"), col("__ws"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)), " ").as("chunk_text"),
        size(slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize))).cast("long").as("n_chunk_tokens"))
  }

  /** Corpus-frequency boilerplate removal (the RefinedWeb / CCNet
    * line-dedup rule, tokenized form): chunk every document into
    * non-overlapping `window`-token segments; a segment TEXT appearing in
    * at least `minDocs` DISTINCT documents is boilerplate (cookie
    * banners, navigation, license footers — text repeated ACROSS the
    * corpus rather than within a document), and ALL its occurrences are
    * removed everywhere; surviving segments reassemble in order.
    *
    * Complementary to [[graft.ops.Dedup.passages]]: passages keeps the
    * FIRST occurrence of any repeated chunk (near-dup pruning), while
    * boilerplate removal deletes EVERY occurrence of corpus-frequent
    * chunks — they are noise wherever they appear — and leaves rare
    * repeats untouched. Documents whose every segment is boilerplate
    * stay in the output with empty `clean_text` (dropping them is a
    * retention decision for a later filter, not this operator's call).
    *
    * Output: (doc_id, n_chunks, n_kept, clean_text).
    *
    * Shape at scale: chunking is a narrow explode; the document-
    * frequency table is (chunk_text, doc) distinct + count, both
    * map-side-combined and keyed on the chunk text; the boilerplate set
    * (segments above `minDocs`) is tiny relative to the corpus, so the
    * anti join back is AQE-broadcastable; reassembly is one per-doc
    * aggregate. The corpus shuffles once, on the chunk key.
    */
  def boilerplateChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, minDocs: Int = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // persisted: the chunk table feeds the frequency pass, the anti join
    // and the per-doc totals — one explode, three consumers
    val ch = graft.util.Caches.persist(
      chunk(df, idCol, textCol, chunkSize = window, overlap = 0)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text")))
    val boiler = ch.select("chunk_text", "doc_id").distinct()
      .groupBy("chunk_text").agg(count(lit(1)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select("chunk_text")
    val kept = ch.join(boiler, Seq("chunk_text"), "left_anti")
    val totals = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_id"),
          col("chunk_text").as("__t")))),
        s => s.getField("__t"))).as("clean_text"))
    totals.join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Gopher-style repetition signals: how much of a document is the same
    * word n-gram repeated. High `dup_ngram_frac` / `top_ngram_frac` means
    * boilerplate or degenerate generation — the standard pre-training
    * repetition filter thresholds exactly these columns.
    *
    * One row per document:
    * (doc_id, n_ngrams, n_distinct_ngrams, dup_ngram_frac, top_ngram_frac).
    *
    * Shape at scale: explode to one row per n-gram occurrence, then two
    * keyed aggregations. The first shuffles on (doc, gram) with map-side
    * combine absorbing the within-partition repeats the operator exists
    * to find; the second (per-doc rollup) shuffles only the already-
    * collapsed distinct-gram rows — far smaller than the input. The
    * narrow alternative (per-row `array_distinct` + counting loops) is
    * O(distinct²) per document — quadratic in exactly the degenerate
    * documents this filter targets — so the keyed form is the scale-safe
    * one.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val ws = T.words(col(textCol))
    // guard: sequence(1, stop) counts DOWN for stop < 1, so a document
    // shorter than one n-gram must yield an empty gram list (and thus no
    // output row), not a fabricated descending-index slice
    val grams = when(size(ws) >= n, transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("doc_id"), explode(grams).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum("__cnt").as("n_ngrams"),
        count(lit(1)).as("n_distinct_ngrams"),
        round((sum("__cnt") - count(lit(1))).cast("double")
          / sum("__cnt").cast("double"), 6).as("dup_ngram_frac"),
        round(max("__cnt").cast("double")
          / sum("__cnt").cast("double"), 6).as("top_ngram_frac"))
  }

  /** TF-IDF keyword extraction: the `k` most characteristic terms per
    * document, the cheap classic for corpus exploration, topic tagging and
    * search-index prep. Score = tf * (ln((N+1)/(df+1)) + 1) (smoothed
    * idf), rounded to 6dp for engine portability; ties broken by term
    * so the top-k is fully deterministic.
    *
    * Shape at scale: explode to (doc, term) pairs, map-side-combined
    * count; document frequency is a second rollup of that SAME
    * aggregate's output keyed by term; N is a one-row aggregate
    * broadcast into the score. The df-join is keyed on term — broadcast
    * when the vocabulary is small, sort-merge when it isn't — and the
    * final top-k is a per-document window over at most the document's own
    * distinct terms. Nothing global except the one-row N.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df
      .select(col(idCol).as("doc_id"), explode(T.words(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf")
        * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 6))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))).cast("long"))
      .where(col("rnk") <= k)
      .select("doc_id", "rnk", "term", "tf", "df", "score")
  }

  /** Model-based quality scoring: a logistic classifier over the
    * [[quality]] metrics — the shape of the fasttext/FineWeb-Edu quality
    * filters, with the model expressed as explicit (metric, weight)
    * pairs so the score is auditable and engine-replayable. Output:
    * (doc_id, score, keep) with score = sigmoid(bias + Σ wᵢ·metricᵢ)
    * rounded to 6dp (the linear sum accumulates in the given pair order,
    * so replay engines add in the same sequence) and keep = score >=
    * threshold.
    *
    * Pure narrow codegen'd column work — the inference "join" is just
    * literals in the expression tree, nothing ships to executors.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
      weights: Seq[(String, Double)], bias: Double = 0.0,
      threshold: Double = 0.5): DataFrame = {
    require(weights.nonEmpty, "at least one (metric, weight) pair")
    val m = qualityMetrics(textCol).toMap
    val unknown = weights.collect { case (k, _) if !m.contains(k) => k }
    require(unknown.isEmpty,
      s"unknown metrics ${unknown.mkString(", ")}; have ${m.keys.mkString(", ")}")
    val linear = weights.foldLeft(lit(bias)) { case (acc, (k, w)) =>
      acc + lit(w) * m(k).cast("double")
    }
    val score = round(lit(1d) / (lit(1d) + exp(-linear)), 6)
    df.select(col(idCol).as("doc_id"), score.as("score"),
      (score >= threshold).as("keep"))
  }

  /** Corpus-wide heavy hitters: the `k` most frequent words with counts —
    * the vocabulary/stopword/boilerplate-token diagnostic over the whole
    * corpus. Ties break on the term so the cut is deterministic.
    *
    * Shape at scale: explode + map-side-combined count (the shuffle
    * carries one partial row per distinct word per partition, not token
    * occurrences), then a per-partition top-k merge
    * (TakeOrderedAndProject) — no global sort, driver sees k rows.
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(T.words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)
  }

  /** Per-GROUP heavy hitters: the top-`k` terms by count within each
    * group (ties to the smaller term), rank 1-based — "what does each
    * language/source actually say", the grouped complement of
    * [[heavyHitters]]'s corpus-global head.
    *
    * Shape at scale: one map-side-combined (group, term) count — the
    * explode's repeats collapse before the exchange — then a rank window
    * over the COUNT TABLE (bounded by group × vocabulary), never over
    * exploded tokens.
    */
  def heavyHittersGrouped(df: DataFrame, groupCol: String,
      textCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df
      .select(col(groupCol).as("group"),
        explode(T.words(col(textCol))).as("term"))
      .groupBy("group", "term").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("group")
      .orderBy(col("n").desc, col("term"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Vocabulary head coverage: the top-`k` terms by collection frequency
    * with their CUMULATIVE share of all corpus tokens — the Zipf-curve
    * head a tokenizer/stopword/vocab decision actually reads ("the top
    * 100 terms cover 41% of tokens"). Output per rank:
    * (rank, term, cf, cum_cf, total_tokens, coverage), rank ordered by
    * (cf desc, term) so ties are total.
    *
    * Determinism: counts and cumulative sums are exact longs; coverage
    * is one exact-integer double division. Shape at scale: the
    * [[heavyHitters]] plan (map-side-combined term counts + top-k
    * TakeOrdered) plus a one-row token-total broadcast; the cumulative
    * window runs over k rows, not the corpus.
    */
  def headCoverage(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = df.select(explode(T.words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cf"))
    val total = terms.agg(sum("cf").as("total_tokens"))
    val top = terms.orderBy(col("cf").desc, col("term")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cf").desc, col("term"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cf", sum("cf").over(w))
      .select(col("rank"), col("term"), col("cf"), col("cum_cf"),
        col("total_tokens"),
        (col("cum_cf").cast("double") / col("total_tokens")).as("coverage"))
  }

  /** Hashing-trick vectorizer (feature hashing): text → a fixed-`dim`
    * dense count vector, vec[d] = |{words w : h32(w) mod dim = d}| — the
    * model-free featurizer that bridges the text operators to the
    * similarity/embedding stack (its output feeds
    * [[Similarity.nearDupPairs]] / top-k directly). Deterministic by the
    * same md5-derived h32 as the sampling family.
    *
    * Shape at scale: explode + two keyed aggregations exactly like
    * [[repetition]] — the (doc, bucket) count shuffle is map-side
    * combined, the per-doc assembly state is `dim` entries. The per-row
    * narrow alternative (filter the word array once per bucket) is
    * O(dim × words) interpreted higher-order calls per row — the keyed
    * form wins for any real dim.
    */
  def hashingVectorize(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val counts = df
      .select(col(idCol).as("doc_id"), explode(T.words(col(textCol))).as("w"))
      .select(col("doc_id"), (T.h32(col("w")) % dim).cast("int").as("d"))
      .groupBy("doc_id", "d").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("d"), col("c")))).as("__m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => coalesce(element_at(col("__m"), d), lit(0L)).cast("double"))
          .as("vec"))
  }

  /** Corpus n-gram count table — the KenLM-style LM-training prep (and
    * the generalization of [[heavyHitters]] beyond unigrams): one row per
    * distinct word n-gram with count >= `minCount`. The `minCount` prune
    * is the standard vocabulary cut that keeps the output a small
    * fraction of the corpus.
    *
    * Same scale shape as [[repetition]]'s first stage: explode +
    * map-side-combined count on the gram key; the prune happens in the
    * aggregate's output before anything else reads it.
    */
  def ngramCounts(df: DataFrame, textCol: String, n: Int = 2,
      minCount: Long = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val ws = T.words(col(textCol))
    val grams = when(size(ws) >= n, transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Rolling-hash document fingerprint (content-defined identity: equal
    * texts always collide, near-equal texts never do — complements MinHash).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), T.fingerprint(col(textCol)).as("fp"))

  /** Marker words per language for the n-gram/lexical language-ID
    * heuristic. Deterministic: score = |words ∩ markers|; prediction =
    * highest score, ties broken by language code order.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "los", "que", "y"),
    "fr" -> Seq("le", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4"))

  /** Lexical language ID over whitespace words. Returns
    * (doc_id, declared lang, predicted lang, marker hit count).
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
      declaredCol: String): DataFrame = {
    val (predicted, mx) = langIdExprs(textCol)
    df.select(col(idCol).as("doc_id"), col(declaredCol).as("lang"),
      predicted.as("predicted"), mx.cast("long").as("marker_hits"))
  }

  /** The shared langId expression pair: (predicted language, max marker
    * hits) over `textCol`. foldRight chains WHENs in declaration order,
    * so the FIRST language (alphabetical) with the max score wins —
    * deterministic tie-break; no markers at all predicts "und".
    */
  private def langIdExprs(textCol: String): (Column, Column) = {
    val ws = T.words(col(textCol))
    def score(markers: Seq[String]): Column =
      size(filter(ws, w => w.isInCollection(markers)))
    val scores = LangMarkers.map { case (lang, m) => lang -> score(m) }
    val mx = greatest(scores.map(_._2): _*)
    val predicted = scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === mx && mx > 0, lang).otherwise(els)
    }
    (predicted, mx)
  }

  /** Per-document language PURITY — the code-switching / wrong-label
    * screen: chunk the document into `chunkSize`-word windows, language-
    * ID each window with the shared [[langId]] heuristic, and report how
    * unanimous the windows are. A clean monolingual page scores
    * majority_frac 1.0; concatenated crawl fragments, boilerplate in a
    * second language, or a mislabeled doc surface as low majority / high
    * language count. Output: (doc_id, n_chunks, n_langs_detected,
    * majority_frac[6dp]) — majority ties are frequency ties, so the
    * FRACTION is deterministic regardless of which language "wins".
    *
    * Shape at scale: the narrow chunk explode (~n_tokens/chunkSize rows
    * per doc), then two map-side-combined doc-keyed aggregations —
    * nothing but (doc, predicted) counts ever shuffles.
    */
  def langPurity(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 16): DataFrame = {
    val chunks = chunk(df, idCol, textCol, chunkSize, overlap = 0)
    val (predicted, _) = langIdExprs("chunk_text")
    chunks.select(col("doc_id"), predicted.as("predicted"))
      .groupBy("doc_id", "predicted").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(sum("__c").as("n_chunks"),
        count(lit(1)).as("n_langs_detected"),
        max("__c").as("__mx"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs_detected"),
        round(col("__mx").cast("double") / col("n_chunks").cast("double"),
          6).as("majority_frac"))
  }

  /** Corpus language distribution with mean length per language. */
  def langDist(df: DataFrame, langCol: String, textCol: String): DataFrame =
    df.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(length(col(textCol))), 6).as("avg_chars"))

  /** Per-document duplicated-span fraction — the memorization diagnostic
    * behind substring-level dedup (which [[Dedup.passages]] then acts
    * on): for each doc, the fraction of its DISTINCT word `n`-grams that
    * occur in at least one OTHER document. High dup_frac = boilerplate /
    * template / copied text even when no whole-document duplicate exists.
    *
    * Shape at scale: one explode of the per-doc distinct hashed n-grams
    * (a codegen'd kernel, so grams shuffle as longs, never strings), a
    * map-side-combined count per gram — distinct-per-doc grams make
    * count(*) == the containing-doc count — and a join back on the gram
    * key feeding a per-doc reduce. Linear in corpus n-gram volume.
    * Docs shorter than `n` words fall back to the whole-text hash (one
    * gram), matching [[graft.functions.TextFunctions.hashedWordNgrams]].
    *
    * Output: (doc_id, n_grams, n_dup, dup_frac 6dp).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    val g = graft.util.Caches.persist(
      df.select(col(idCol).as("doc_id"),
        T.hashedWordNgrams(col(textCol), n).as("__grams"))
        .select(col("doc_id"), explode(col("__grams")).as("__g")))
    val dfreq = g.groupBy("__g").agg(count(lit(1)).as("__df"))
    g.join(dfreq, "__g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6)
          .as("dup_frac"))
  }

  /** Contiguous duplicated-span runs (the positional sharpening of
    * [[dupSpans]], after the exact-substring dedup analysis of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * a position's n-gram is DUP when that gram occurs in >= 2 distinct
    * documents, and consecutive dup positions merge into islands. A long
    * island is a verbatim copied span (licence block, template,
    * syndicated passage) — the thing substring-level dedup excises —
    * where [[dupSpans]]'s set-level fraction cannot tell one 80-gram
    * block from 80 scattered grams.
    *
    * Shape at scale: positional gram hashes are ONE native-kernel pass
    * (grams travel as longs); doc frequency is a distinct + count on the
    * gram key (map-side combined); the flags join back on the gram key;
    * islands use the gaps-and-islands window PARTITIONED BY doc (per-doc
    * sequential work bounded by doc length, never corpus-wide). Linear
    * in corpus gram volume.
    *
    * Output: (doc_id, n_grams, n_dup, max_run) — max_run 0 when nothing
    * is duplicated.
    */
  def dupRuns(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    val g = graft.util.Caches.persist(
      df.select(col(idCol).as("doc_id"),
          posexplode(T.hashedWordNgramSeq(col(textCol), n))
            .as(Seq("__pos", "__g"))))
    val dfreq = g.select(col("doc_id"), col("__g")).distinct()
      .groupBy("__g").agg(count(lit(1)).as("__df"))
    val flags = g.join(dfreq, "__g")
      .select(col("doc_id"), col("__pos"), (col("__df") > 1).as("__dup"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("__dup"))
      .orderBy(col("__pos"))
    val islands = flags
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy("doc_id", "__dup", "__grp")
      .agg(count(lit(1)).as("__rl"))
    val runs = islands.where(col("__dup"))
      .groupBy("doc_id").agg(max(col("__rl")).as("max_run"))
    g.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
      .join(flags.where(col("__dup")).groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup")), Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
  }

  /** Longest shared substring per document PAIR at suffix-array fidelity
    * above the `n`-word threshold — the pairwise sharpening of
    * [[dupRuns]], closing the gap to the Lee et al. 2022 exact-substring
    * semantics ("Deduplicating Training Data Makes Language Models
    * Better", which reports/removes substrings shared verbatim between
    * documents above a token threshold): [[dupRuns]] says "this doc has
    * an r-gram duplicated run SOMEWHERE in the corpus", but its per-gram
    * flags can be satisfied by DIFFERENT partner docs, so the island
    * length only BOUNDS the longest substring truly shared with any one
    * doc. This computes it exactly: a substring of w >= n words shared
    * verbatim by docs A and B appears as a run of w-n+1 consecutive
    * ALIGNED positional-gram matches (same position offset A-B — the
    * suffix-grouping diagonal), and conversely every maximal aligned run
    * of length r is a maximal shared substring of r+n-1 words. Reported
    * `shared_words` is therefore EXACT for every pair sharing >= n words
    * (the suffix-array answer, thresholded at n), up to gram-hash
    * collisions in the h32 domain — which the oracle replays bit-for-bit.
    *
    * `maxDf` guards the pair expansion: a gram in more than `maxDf` docs
    * is corpus boilerplate whose pairing cost is df² with near-zero
    * dedup signal (the LSH-band-cap convention — [[Dedup.simhashPairs]]
    * maxBucket, [[Dedup.ngramJaccardPairs]] maxBlock); pairs whose ONLY
    * shared material is such boilerplate are not reported. Docs shorter
    * than `n` words are out of contract (whole-doc dedup owns them).
    *
    * Shape at scale: positional gram hashes are one native-kernel pass
    * (grams travel as longs); doc frequency is map-side combined; the
    * pair join is gram-keyed with per-gram fan-out capped at maxDf²; the
    * island window partitions by (pair, diagonal) — per-pair sequential
    * work bounded by the shorter doc, never corpus-wide. No driver state.
    *
    * Output: (doc_a, doc_b, max_run, shared_words) for every pair
    * sharing at least one sub-maxDf gram; shared_words = max_run + n - 1.
    */
  def dupSubstring(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxDf: Int = 1000): DataFrame = {
    require(n >= 1, s"gram length must be >= 1, got $n")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    import org.apache.spark.sql.expressions.Window
    val g = graft.util.Caches.persist(
      df.where(size(T.words(col(textCol))) >= n)
        .select(col(idCol).as("doc_id"),
          posexplode(T.hashedWordNgramSeq(col(textCol), n))
            .as(Seq("__pos", "__g"))))
    val dfreq = g.select(col("doc_id"), col("__g")).distinct()
      .groupBy("__g").agg(count(lit(1)).as("__df"))
      .where(col("__df").between(2, maxDf))
    val keep = g.join(dfreq.select("__g"), "__g")
    val pairs = keep
      .select(col("__g"), col("doc_id").as("doc_a"), col("__pos").as("__pa"))
      .join(keep
        .select(col("__g"), col("doc_id").as("doc_b"), col("__pos").as("__pb")),
        "__g")
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("__pa") - col("__pb")).as("__diag"), col("__pa"))
    // gaps-and-islands along each alignment diagonal: __pa is unique
    // within (pair, diag), so consecutive positions collapse to one group
    val w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("__pa")
    pairs
      .withColumn("__grp", col("__pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "__diag", "__grp")
      .agg(count(lit(1)).as("__rl"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("__rl")).as("max_run"))
      .select(col("doc_a"), col("doc_b"), col("max_run"),
        (col("max_run") + lit((n - 1).toLong)).as("shared_words"))
  }

  /** The ACTION on top of [[dupSubstring]]'s detection — Lee et al.
    * 2022's ExactSubstr deduplication: EXCISE every shared substring of
    * at least `minRun + n - 1` words from the HIGHER-id doc of each pair
    * (the first corpus occurrence survives — the lower id, matching the
    * engine's keep-lowest dedup convention), keep everything else.
    * Whole-document dedup misses partially-copied text; quality
    * filtering keeps it; this removes exactly the copied spans and
    * reassembles the remainder. Spans are located on the ORIGINAL
    * corpus (as in the paper — excisions do not cascade within one
    * pass), so a doc duplicating an already-cleaned doc still loses its
    * copy of the shared text.
    *
    * Shape at scale: [[dupSubstring]]'s aligned-run machinery (gram-hash
    * joins capped at maxDf fan-out, per-(pair, diagonal) islands) plus
    * one covered-position explode — positions covered by a qualifying
    * run on the victim side — an anti join against the victim's word
    * positions, and a per-doc ordered reassembly (sort_array of
    * (pos, word) structs — per-doc bounded, no global sort). Docs
    * shorter than `n` words pass through untouched (whole-doc dedup owns
    * them).
    *
    * Output: one row per input doc — (doc_id, clean_text, n_words,
    * n_dropped); clean_text '' when everything was copied.
    */
  def dupSubstringApply(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxDf: Int = 1000, minRun: Int = 1): DataFrame = {
    require(n >= 1, s"gram length must be >= 1, got $n")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    import org.apache.spark.sql.expressions.Window
    val g = graft.util.Caches.persist(
      df.where(size(T.words(col(textCol))) >= n)
        .select(col(idCol).as("doc_id"),
          posexplode(T.hashedWordNgramSeq(col(textCol), n))
            .as(Seq("__pos", "__g"))))
    val dfreq = g.select(col("doc_id"), col("__g")).distinct()
      .groupBy("__g").agg(count(lit(1)).as("__df"))
      .where(col("__df").between(2, maxDf))
    val keep = g.join(dfreq.select("__g"), "__g")
    // victim = the HIGHER id of each matched pair; islands along the
    // alignment diagonal in VICTIM coordinates
    val pairs = keep
      .select(col("__g"), col("doc_id").as("__keeper"), col("__pos").as("__pk"))
      .join(keep
        .select(col("__g"), col("doc_id").as("__victim"), col("__pos").as("__pv")),
        "__g")
      .where(col("__keeper") < col("__victim"))
      .select(col("__victim"), col("__keeper"),
        (col("__pv") - col("__pk")).as("__diag"), col("__pv"))
    val w = Window.partitionBy("__victim", "__keeper", "__diag")
      .orderBy("__pv")
    val covered = pairs
      .withColumn("__grp", col("__pv") - row_number().over(w))
      .groupBy("__victim", "__keeper", "__diag", "__grp")
      .agg(count(lit(1)).as("__rl"), min("__pv").as("__p0"))
      .where(col("__rl") >= minRun)
      // a run of rl grams starting at p0 covers words p0 .. p0+rl+n-2
      .select(col("__victim").as("doc_id"),
        explode(sequence(col("__p0"),
          col("__p0") + col("__rl") + lit(n - 2))).as("__wp"))
      .distinct()
    val words = df.select(col(idCol).as("doc_id"),
        posexplode(T.words(col(textCol))).as(Seq("__wp", "__w")))
      .join(df.select(col(idCol).as("doc_id"),
        size(T.words(col(textCol))).cast("long").as("n_words")), "doc_id")
    val kept = words
      .where(col("n_words") >= n)
      .join(covered, Seq("doc_id", "__wp"), "left_anti")
    val reassembled = kept
      .groupBy("doc_id")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("__wp"), col("__w")))),
          e => e.getField("__w")), " ").as("clean_text"),
        count(lit(1)).as("__nk"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        size(T.words(col(textCol))).cast("long").as("n_words"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_words") < n, col("__t"))
          .otherwise(coalesce(col("clean_text"), lit(""))).as("clean_text"),
        col("n_words"),
        when(col("n_words") < n, lit(0L))
          .otherwise(col("n_words") - coalesce(col("__nk"), lit(0L)))
          .as("n_dropped"))
  }

  /** WITHIN-doc repeated-span excision — the self-alignment counterpart
    * of [[dupSubstringApply]] and the ACTION on top of
    * [[repetition]]'s Gopher dup-fraction metrics: a span of `minRun +
    * n - 1`+ words that already occurred EARLIER in the same document
    * (verbatim) is excised at its later positions; the first occurrence
    * survives. This is the chat-log / template / degenerate-generation
    * cleanup (Gopher's repetition filters DROP such docs; when the doc
    * is otherwise good, excising the repeats keeps it) — periodic text
    * collapses to one period by construction, since every later period
    * aligns with the first at some diagonal.
    *
    * `maxOcc` caps the within-doc pair fan-out (occ² per repeated gram):
    * grams occurring more than `maxOcc` times in one doc contribute no
    * pairs — conservative (under-excision) and documented, the maxDf
    * convention; such docs are degenerate-repetition cases the
    * [[qualityFilter]] repetition thresholds catch wholesale.
    *
    * Shape at scale: everything is per-doc — the self-join keys on
    * (doc, gram), islands window on (doc, diagonal); no cross-doc
    * traffic at all, so the op scales embarrassingly with the corpus.
    * Output: (doc_id, clean_text, n_words, n_dropped) for every doc.
    */
  def selfRepetitionApply(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minRun: Int = 1, maxOcc: Int = 64): DataFrame = {
    require(n >= 1, s"gram length must be >= 1, got $n")
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    require(maxOcc >= 2, s"maxOcc must be >= 2, got $maxOcc")
    import org.apache.spark.sql.expressions.Window
    val g = graft.util.Caches.persist(
      df.where(size(T.words(col(textCol))) >= n)
        .select(col(idCol).as("doc_id"),
          posexplode(T.hashedWordNgramSeq(col(textCol), n))
            .as(Seq("__pos", "__g"))))
    val occ = g.groupBy("doc_id", "__g").agg(count(lit(1)).as("__occ"))
      .where(col("__occ").between(2, maxOcc))
      .select("doc_id", "__g")
    val rep = g.join(occ, Seq("doc_id", "__g"))
    val pairs = rep
      .select(col("doc_id"), col("__g"), col("__pos").as("__pk"))
      .join(rep.select(col("doc_id"), col("__g"), col("__pos").as("__pv")),
        Seq("doc_id", "__g"))
      .where(col("__pv") > col("__pk"))
      .select(col("doc_id"), (col("__pv") - col("__pk")).as("__diag"),
        col("__pv"))
      .distinct()
    val w = Window.partitionBy("doc_id", "__diag").orderBy("__pv")
    val covered = pairs
      .withColumn("__grp", col("__pv") - row_number().over(w))
      .groupBy("doc_id", "__diag", "__grp")
      .agg(count(lit(1)).as("__rl"), min("__pv").as("__p0"))
      .where(col("__rl") >= minRun)
      .select(col("doc_id"),
        explode(sequence(col("__p0"),
          col("__p0") + col("__rl") + lit(n - 2))).as("__wp"))
      .distinct()
    val words = df.select(col(idCol).as("doc_id"),
        posexplode(T.words(col(textCol))).as(Seq("__wp", "__w")),
        size(T.words(col(textCol))).cast("long").as("n_words"))
    val kept = words
      .where(col("n_words") >= n)
      .join(covered, Seq("doc_id", "__wp"), "left_anti")
    val reassembled = kept
      .groupBy("doc_id")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("__wp"), col("__w")))),
          e => e.getField("__w")), " ").as("clean_text"),
        count(lit(1)).as("__nk"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        size(T.words(col(textCol))).cast("long").as("n_words"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_words") < n, col("__t"))
          .otherwise(coalesce(col("clean_text"), lit(""))).as("clean_text"),
        col("n_words"),
        when(col("n_words") < n, lit(0L))
          .otherwise(col("n_words") - coalesce(col("__nk"), lit(0L)))
          .as("n_dropped"))
  }

  /** Group-distinctive terms by weighted log-odds with an informative
    * Dirichlet prior (the "fightin' words" estimator, Monroe et al.
    * 2008): for each (group, word), the z-scored log-odds of the word in
    * the group vs the REST of the corpus, with the corpus itself as the
    * prior (prior mass `alpha0` distributed proportional to global word
    * frequency). Raw frequency ratios over-weight rare words; the prior
    * shrinks exactly them. Top `topK` terms per group by (z desc, word).
    *
    * delta_gw = ln((y_gw + a_w) / (n_g + alpha0 - y_gw - a_w))
    *          - ln((y_rw + a_w) / (n_r + alpha0 - y_rw - a_w))
    * var_gw   = 1/(y_gw + a_w) + 1/(y_rw + a_w);  z = delta/sqrt(var)
    * with a_w = alpha0·y_w/N, r = corpus minus group.
    *
    * Shape at scale: one (group, word) count — map-side combined, output
    * vocab-bounded; per-group totals and the global scalars broadcast
    * back; z is narrow arithmetic over integer counts (deterministic —
    * no accumulated doubles); the top-K window partitions by group.
    *
    * Output: (group, word, y, z), `topK` rows per group.
    */
  def keyness(df: DataFrame, groupCol: String, textCol: String,
      alpha0: Double = 100.0, topK: Int = 10): DataFrame = {
    require(alpha0 > 0, s"alpha0 must be > 0, got $alpha0")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val y = df.select(col(groupCol).as("grp"),
      explode(T.words(col(textCol))).as("word"))
      .groupBy("grp", "word").agg(count(lit(1)).as("y"))
    val yc = graft.util.Caches.persist(y)
    val ng = yc.groupBy("grp").agg(sum("y").as("n_g"))
    val yw = yc.groupBy("word").agg(sum("y").as("y_w"))
    val tot = yc.agg(sum("y").as("n_tot"))
    val joined = yc.join(broadcast(ng), "grp").join(yw, "word")
      .crossJoin(broadcast(tot))
    val aw = lit(alpha0) * col("y_w").cast("double") / col("n_tot").cast("double")
    val yRest = (col("y_w") - col("y")).cast("double")
    val nRest = (col("n_tot") - col("n_g")).cast("double")
    val delta =
      log((col("y").cast("double") + aw)
        / (col("n_g").cast("double") + alpha0 - col("y").cast("double") - aw)) -
      log((yRest + aw) / (nRest + alpha0 - yRest - aw))
    val variance = lit(1.0) / (col("y").cast("double") + aw) +
      lit(1.0) / (yRest + aw)
    val scored = joined.select(col("grp"), col("word"), col("y"),
      (round(delta / sqrt(variance), 6) + lit(0d)).as("z"))
    val top = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(col("z").desc, col("word"))
    scored.withColumn("__rn", row_number().over(top))
      .where(col("__rn") <= topK).drop("__rn")
  }

  /** Per-document code-point Shannon entropy (nats, 6dp) — the classic
    * cheap quality signal: machine-generated or repetitive filler sits
    * far below natural-language entropy, base64/binary junk far above
    * (Rae et al. 2021 use the gzip-ratio cousin). One narrow codegen'd
    * projection ([[graft.functions.Expressions.CharEntropy]]): per-row
    * histogram in the expression, zero shuffle, zero explode — at 100 TB
    * this is a pure map over the corpus scan.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      T.charEntropy(col(textCol)).as("entropy"))

  /** Pointwise mutual information of adjacent word pairs — the word2vec
    * phrase-mining statistic (Mikolov et al. 2013): collocations like
    * proper names and fixed phrases score high because their joint count
    * beats the independence prediction. PMI = ln(p(xy)/(p(x)p(y))) with
    * p(xy) = c_xy/n_pairs and p(w) = c_w/n_tokens, computed as one
    * double expression in a FIXED operand order both engines replay:
    * (c_xy·n_tok·n_tok)/(n_pair·c_x·c_y), then ln, 6dp, -0.0 normalized.
    * Output (w1, w2, c_xy, pmi) for pairs with c_xy >= `minPair` (the
    * standard noise floor — a singleton pair always "looks" collocated).
    *
    * Scale shape: bigram and unigram tables are map-side-combined counts
    * off one corpus scan each (vocabulary-sized, never corpus-sized
    * after aggregation); the two totals ride a broadcast crossJoin of
    * one-row aggregates (the [[Retrieval]] corpus-stats pattern); the
    * final joins key on vocabulary words only.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minPair: Long = 5): DataFrame = {
    val ws = df.select(T.words(col(textCol)).as("ws"))
    val bg = ws.where(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val uni = graft.util.Caches.persist(
      ws.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c_w")))
    val bgK = graft.util.Caches.persist(bg)
    val nTok = uni.agg(sum("c_w").as("n_tok"))
    val nPair = bgK.agg(sum("c_xy").as("n_pair"))
    bgK.where(col("c_xy") >= minPair)
      .join(uni.select(col("w").as("w1"), col("c_w").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c_w").as("c2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select(col("w1"), col("w2"), col("c_xy"),
        (round(log((col("c_xy").cast("double") * col("n_tok") * col("n_tok"))
          / (col("n_pair").cast("double") * col("c1") * col("c2"))), 6)
          + lit(0d)).as("pmi"))
  }

  /** Adjacent character-pair frequencies over the word-frequency table —
    * the inner-loop statistic of BPE tokenizer training (Sennrich et al.
    * 2016): the highest-count pair is the next merge. Words below 2
    * characters contribute no pairs; pairs under `minCount` are pruned
    * (they could never win a merge and dominate the tail).
    *
    * Scale shape is the BPE-standard two-level aggregation: the corpus
    * scan collapses to a DISTINCT-WORD count table first (map-side
    * combined — the corpus never explodes), then pairs explode only per
    * distinct VOCABULARY entry (bounded by vocab size × word length, not
    * corpus size) weighted by the word's count.
    */
  def bpePairCounts(df: DataFrame, textCol: String,
      minCount: Long = 2): DataFrame = {
    val wc = df.select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wn"))
    wc.select(col("wn"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("wn").as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** Iterative BPE merge learning (Sennrich et al. 2016) — the full
    * tokenizer-training loop, not just one round's statistic
    * ([[bpePairCounts]]): `rounds` times, count adjacent symbol pairs
    * over the distinct-word table weighted by word frequency, merge the
    * most frequent pair (ties to the lexicographically smallest (a, b)),
    * and re-segment. Output: one row per executed round
    * (merge_round, left_sym, right_sym, merged, cnt) — the merge table a
    * BPE tokenizer ships. Stops early when no pair remains.
    *
    * Symbol sequences are carried as SEPARATOR-FRAMED STRINGS — each
    * symbol wrapped as ␟sym␟ (U+001F, dropped from input words in the
    * defensive filter) — so applying a merge is one plain `replace` of
    * ␟a␟␟b␟ with ␟ab␟: because every symbol carries its own frame,
    * adjacent matches share no characters and left-to-right
    * non-overlapping replace semantics (identical in any engine)
    * implement exactly BPE's left-to-right merge scan. No per-row UDF,
    * no recursion — narrow string work any engine replays.
    *
    * Scale shape: the corpus collapses ONCE to the distinct-word count
    * table (map-side combined); each round is one vocab-bounded pair
    * aggregation, a 1-row TakeOrdered argmax to the driver (the
    * per-round driver traffic is ONE ROW — the [[Dedup
    * .connectedComponents]] loop-budget convention), and a narrow
    * re-encode. State re-persists per round with immediate eviction of
    * the superseded generation, so lineage stays flat across hundreds of
    * merges.
    */
  def bpeLearnMerges(df: DataFrame, textCol: String,
      rounds: Int = 4, checkpointEvery: Int = 0): DataFrame = {
    val picked = learnMerges(df, rounds, checkpointEvery, "bpe",
      charFramed(_, textCol, "TextAnalysis.bpeLearnMerges"))(mostFrequent)
    mergeTable(df.sparkSession, picked)
  }

  /** The BPE merge loop behind [[bpeLearnMerges]], [[ByteBpe.learn]] and
    * [[Wordpiece.learn]]. Over `framed(df)`, the (e, wn) table of framed
    * symbol strings and word counts, each round counts the adjacent
    * symbol pairs weighted by word count; `pick` gets the per-word
    * symbol arrays (wn, ss) and the pair counts (a, b, cnt) and returns
    * the row of the chosen merge, whose first two fields are its pair,
    * or None when no pair remains. The merge is applied as one literal
    * replace. The whole loop, `framed` included, runs on its own session
    * ([[graft.util.Fixpoint.scoped]]). Returns the picked rows in round
    * order.
    */
  private[ops] def learnMerges(df: DataFrame, rounds: Int,
      checkpointEvery: Int, name: String, framed: DataFrame => DataFrame)(
      pick: (DataFrame, DataFrame) => Option[Row]): Seq[Row] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    graft.util.Fixpoint.scoped(df.sparkSession) { loop =>
    val picked = scala.collection.mutable.ArrayBuffer.empty[Row]
    val last = graft.util.Fixpoint.iterate(framed(loop(df)), rounds, name,
        every = checkpointEvery, hold = graft.util.Fixpoint.Count) { enc =>
      val syms = enc.select(col("wn"),
        filter(split(col("e"), FrameSep), s => s =!= "").as("ss"))
      // the sequence(1,0)-steps-backwards guard: 1-symbol rows emit null,
      // explode drops them (DuckDB's empty generate_series equivalent)
      val pairs = syms
        .select(col("wn"), explode(when(size(col("ss")) >= 2,
          transform(sequence(lit(1), size(col("ss")) - 1),
            i => struct(element_at(col("ss"), i).as("a"),
              element_at(col("ss"), i + 1).as("b"))))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("wn").as("cnt"))
      pick(syms, pairs) match {
        case None => enc
        case Some(top) =>
          picked += top
          val (a, b) = (top.getString(0), top.getString(1))
          enc.select(replace(col("e"),
            lit(s"$FrameSep$a$FrameSep$FrameSep$b$FrameSep"),
            lit(s"$FrameSep$a$b$FrameSep")).as("e"), col("wn"))
      }
    }.state
    last.unpersist(blocking = false)
    picked.toSeq
    }
  }

  /** The BPE merge rule: the most frequent pair, ties to the
    * lexicographically smallest (a, b). Row: (a, b, cnt).
    */
  private[ops] val mostFrequent: (DataFrame, DataFrame) => Option[Row] =
    (_, pairs) => pairs.orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1).collect().headOption

  /** Picked (a, b, cnt) rows as the merge table
    * (merge_round, left_sym, right_sym, merged, cnt).
    */
  private[ops] def mergeTable(spark: org.apache.spark.sql.SparkSession,
      picked: Seq[Row]): DataFrame = {
    import spark.implicits._
    picked.zipWithIndex.map { case (t, i) =>
      (i + 1L, t.getString(0), t.getString(1),
        t.getString(0) + t.getString(1), t.getLong(2))
    }.toDF("merge_round", "left_sym", "right_sym", "merged", "cnt")
  }

  /** The symbol frame of the character-level learners: U+001F. */
  private[ops] val FrameSep = "\u001F"

  /** The distinct words of length >= 2 with their counts, every char c
    * framed as ␟c␟ — persisted and counted. Words containing the U+001F
    * frame separator cannot be framed and are dropped — loudly (round-18
    * ADVICE: every other degenerate-input path in this codebase counts
    * and WARNs; the count runs on the persisted DISTINCT-word table, not
    * a second corpus pass).
    */
  private[ops] def charFramed(df: DataFrame, textCol: String,
      who: String): DataFrame = {
    val wt = graft.util.Caches.persist(
      df.select(explode(split(col(textCol), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wn")))
    val sepDropped = wt.where(col("w").contains(FrameSep))
      .agg(count(lit(1)), coalesce(sum("wn"), lit(0L))).collect().head
    if (sepDropped.getLong(0) > 0)
      System.err.println(s"$who: ${sepDropped.getLong(0)} " +
        s"distinct word(s) (${sepDropped.getLong(1)} occurrences) " +
        "contain the U+001F frame separator and are dropped from " +
        "merge learning")
    val enc = graft.util.Caches.persist(
      wt.where(!col("w").contains(FrameSep))
        .select(regexp_replace(col("w"), "(.)", s"$FrameSep$$1$FrameSep")
          .as("e"), col("wn")))
    enc.count() // materialize off the word table before evicting it
    wt.unpersist(blocking = false)
    enc
  }

  /** Blocklist screening over whitespace words — the safety/PII-adjacent
    * corpus filter every production pipeline runs before training: which
    * documents mention a listed term, how often, and which terms. Output
    * one row per HIT document: (doc_id, n_hits = total occurrences,
    * n_terms = distinct listed terms present, terms = the matched terms
    * sorted and comma-joined — a stable string any engine reproduces).
    * Clean documents emit nothing; anti-join against the output (or flip
    * with a left join) to keep them.
    *
    * Matching is exact whole-word (case as given) — substring matching
    * would flag "assess" for "ass"; callers wanting stemmed or cased
    * variants expand the list (that is how production blocklists ship).
    *
    * Shape at scale: `terms` is plan-time data — the membership test
    * compiles to a literal IN over the exploded words (no join, no
    * broadcast round-trip, pushed inside whole-stage codegen), then one
    * map-side-combined aggregation on doc_id. The corpus never shuffles
    * full-width: only (doc_id, word) survivors — corpus hits, not corpus
    * size — reach the exchange. Lists beyond plan-literal size (10k+
    * terms) belong in a broadcast join instead; this operator takes the
    * literal route because real blocklists are hundreds of terms.
    */
  def blocklist(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist needs at least one term")
    require(terms.forall(t => t.nonEmpty && !t.contains(" ")),
      "blocklist terms must be non-empty single words")
    df.select(col(idCol).as("doc_id"),
        explode(T.words(col(textCol))).as("w"))
      .where(col("w").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("w")).as("n_terms"),
        array_join(sort_array(collect_set(col("w"))), ",").as("terms"))
  }

  /** BPE tokenizer APPLICATION — encode each document under a fixed,
    * already-learned merge table (the [[bpeLearnMerges]] output a
    * tokenizer ships; trained once, applied to every corpus). Output:
    * (doc_id, n_tokens, token_fp) — the token count the budget/packing
    * operators consume plus an engine-portable fingerprint of the full
    * encoded symbol sequence.
    *
    * Mechanism mirrors training exactly: every character is framed as
    * ␟c␟ (U+001F — stripped from input text first, and spaces framed like
    * any character), then each merge in table order is ONE literal
    * `replace` of ␟a␟␟b␟ with ␟ab␟ over the whole framed text. Because a
    * space is itself a framed symbol and no merge contains one, merges
    * can never cross a word boundary — per-word BPE semantics without
    * ever exploding to words. Framed symbols share no characters, so
    * left-to-right non-overlapping replace (identical in any engine) is
    * exactly BPE's merge scan. n_tokens = framed symbols minus the space
    * symbols (boundaries, not tokens).
    *
    * Pure narrow codegen'd string work: no shuffle, no state, no UDF —
    * scan-bound at any corpus size, merge table cost is merges × text
    * length per row.
    */
  def bpeApplyMerges(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val (enc, nTokens) = bpeEncodedExprs(textCol, merges)
    df.select(col(idCol).as("doc_id"),
      nTokens.as("n_tokens"),
      T.h32(enc).as("token_fp"))
  }

  /** The shared [[bpeApplyMerges]] expression pair: (encoded framed
    * symbol string, token count). Both are pure narrow codegen'd string
    * expressions over `textCol`.
    */
  private def bpeEncodedExprs(textCol: String,
      merges: Seq[(String, String)]): (Column, Column) = {
    require(merges.nonEmpty, "at least one merge")
    require(merges.forall { case (a, b) =>
      a.nonEmpty && b.nonEmpty && !(a + b).contains(" ") },
      "merge symbols must be non-empty and space-free")
    val sep = "\u001F"
    val clean = translate(col(textCol), sep, "")
    val framed = regexp_replace(clean, "(.)", s"$sep$$1$sep")
    val enc = merges.foldLeft(framed) { case (e, (a, b)) =>
      replace(e, lit(s"$sep$a$sep$sep$b$sep"), lit(s"$sep$a$b$sep"))
    }
    val nSyms = (length(enc) - length(replace(enc, lit(sep), lit("")))) / 2
    val nSpaces = length(clean) - length(replace(clean, lit(" "), lit("")))
    (enc, (nSyms - nSpaces).cast("long"))
  }

  /** Tokenizer FERTILITY by group (usually language): tokens produced per
    * whitespace word under a fixed BPE merge table — the standard "how
    * well does this tokenizer serve each language" diagnostic (fertility
    * near 1 = efficient; high fertility = the vocabulary fragments that
    * group's text, inflating its effective sequence length and training
    * cost).
    *
    * Output: (group, n_docs, n_words, n_tokens, fertility[6dp]).
    *
    * Shape at scale: the per-row token count is the same narrow codegen'd
    * expression as [[bpeApplyMerges]]; the rollup is ONE map-side-combined
    * aggregation on the group key. All-long sums — exact under any
    * combine order.
    */
  def bpeFertility(df: DataFrame, textCol: String, groupCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val (_, nTokens) = bpeEncodedExprs(textCol, merges)
    df.select(col(groupCol).as("group"),
        nTokens.as("__t"),
        size(T.words(col(textCol))).cast("long").as("__w"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_docs"),
        sum("__w").as("n_words"),
        sum("__t").as("n_tokens"))
      .withColumn("fertility",
        round(col("n_tokens").cast("double") / col("n_words").cast("double"),
          6))
  }

  /** Per-document readability signals + Flesch reading-ease score — the
    * classic prose-difficulty gauge (Flesch 1948) used as a curation
    * feature beside [[qualityScore]]: very low scores flag legalese /
    * machine-generated run-ons, implausibly high ones flag word-salad.
    *
    * Counting conventions (exactly replayable): words are maximal
    * `[A-Za-z]+` runs; sentences are `[.!?]+` terminator runs (min 1 so
    * fragments still score); syllables are `[aeiouy]+` vowel groups per
    * lower-cased word with a floor of 1 per word — the standard cheap
    * approximation (true syllabification needs a dictionary).
    * `flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)`,
    * rounded to 4; word-less docs report zeros (not NULL) so the output
    * keeps one row per input doc.
    *
    * Shape at scale: sentence/word counts are narrow codegen'd
    * `regexp_count` projections; the syllable tally is one word explode
    * feeding a map-side-combined long sum per doc — no shuffle carries
    * text, and the join back to the doc spine is on the doc key only.
    */
  def readability(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val syll = df
      .select(col(idCol).as("doc_id"),
        explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"))
          .as("__w"))
      .groupBy("doc_id")
      .agg(sum(greatest(
        regexp_count(col("__w"), lit("[aeiouy]+")), lit(1)).cast("long"))
        .as("n_syllables"))
    df.select(col(idCol).as("doc_id"),
        regexp_count(lower(col(textCol)), lit("[a-z]+")).cast("long")
          .as("n_words"),
        greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"))
      .join(syll, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        coalesce(col("n_syllables"), lit(0L)).as("n_syllables"),
        coalesce(round(col("n_words").cast("double")
          / col("n_sentences").cast("double"), 6), lit(0d))
          .as("words_per_sentence"),
        when(col("n_words") > 0, round(coalesce(col("n_syllables"), lit(0L))
            .cast("double") / col("n_words").cast("double"), 6))
          .otherwise(lit(0d)).as("syllables_per_word"),
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
              / col("n_sentences").cast("double"))
            - lit(84.6) * (coalesce(col("n_syllables"), lit(0L))
              .cast("double") / col("n_words").cast("double")), 4)
            + lit(0d))
          .otherwise(lit(0d)).as("flesch"))
  }

  /** Zipf power-law fit over the corpus vocabulary: the least-squares
    * slope of ln(frequency) on ln(rank) across the top-`topN` terms.
    * Natural corpora sit near slope −1 (Zipf 1949); a much flatter slope
    * flags template/boilerplate floods (few dominant types missing), a
    * much steeper one flags collapsed vocabulary (model-generated or
    * deduplication-overshoot corpora). The numeric readout companion to
    * [[headCoverage]]'s cumulative-share curve.
    *
    * Shape at scale: term counts are one map-side-combined aggregation;
    * only the top-`topN` rows (config-bounded, default 1000) pass through
    * the global sort + rank window, so the single-partition stretch holds
    * `topN` rows regardless of corpus size. The regression reduces the
    * ranked rows through ×2^20 fixed-point DECIMAL(38,0) sufficient
    * statistics (Σx, Σy, Σxx, Σxy — the [[Profile.correlation]]
    * convention), exact under any partitioning, so the final double
    * formula evaluates identically on any engine. ln(count) of realistic
    * counts stays ≪ 2^33, inside the fixed-point exactness bound.
    */
  /** Heaps' law vocabulary-growth fit (Heaps 1978; Herdan 1960) — the
    * corpus-scale question [[zipfFit]]'s frequency curve cannot answer:
    * HOW FAST does new vocabulary keep arriving as the corpus grows?
    * V(N) ≈ K·N^β with β ≈ 0.4–0.6 for natural text; a β near 1 means
    * near-random token soup (vocabulary never saturates — OCR noise,
    * ids, boilerplate churn), a β collapsing toward 0 means the corpus
    * has stopped contributing new words (dedup/diversity saturation) —
    * both are go/no-go signals for adding more of the same source to a
    * training mix.
    *
    * Distributed form — no sequential scan over the corpus: cumulative
    * tokens at checkpoint j are a SUM over docs with id below the j-th
    * id bound, and cumulative vocabulary is a COUNT of terms whose
    * FIRST-OCCURRENCE doc id (min over the term's postings) is below
    * the bound — both map-side-combined aggregates over a broadcast
    * checkpoint table, the growth curve without any order-by. The
    * log-log OLS runs in [[zipfFit]]'s fixed-point convention (6dp-
    * replayable ln, ×2^20 long sums, one double division). Checkpoints
    * whose corpus prefix is empty are dropped from curve and fit.
    *
    * Output: one row per non-empty checkpoint — (ckpt, n_tokens,
    * vocab, beta, log_k), the fit repeated on each row (log_k = ln K).
    */
  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 3 && checkpoints <= 1000,
      s"checkpoints must be in [3, 1000], got $checkpoints")
    val ws = split(col(textCol), " ", -1)
    val base = graft.util.Caches.persist(
      df.select(col(idCol).cast("long").as("__id"),
        size(filter(ws, w => length(w) > 0)).cast("long").as("__nt"),
        ws.as("__ws")))
    val bounds = base.agg(max("__id").as("__mx"))
      .select(explode(sequence(lit(1), lit(checkpoints))).as("ckpt"),
        col("__mx"))
      .select(col("ckpt").cast("long").as("ckpt"),
        expr(s"((__mx + 1) * ckpt) div $checkpoints").as("__bound"))
    val tokAt = base.select("__id", "__nt").crossJoin(broadcast(bounds))
      .where(col("__id") < col("__bound"))
      .groupBy("ckpt").agg(sum("__nt").as("n_tokens"))
    val firsts = base.select(col("__id"), explode(col("__ws")).as("__w"))
      .where(length(col("__w")) > 0)
      .groupBy(lower(col("__w")).as("__w")).agg(min("__id").as("__first"))
    val vocAt = firsts.crossJoin(broadcast(bounds))
      .where(col("__first") < col("__bound"))
      .groupBy("ckpt").agg(count(lit(1)).as("vocab"))
    val ck = graft.util.Caches.persist(
      bounds.select("ckpt")
        .join(tokAt, Seq("ckpt"), "left").join(vocAt, Seq("ckpt"), "left")
        .select(col("ckpt"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("vocab"), lit(0L)).as("vocab"))
        .where(col("n_tokens") > 0 && col("vocab") > 0))
    val scale = (1L << 20).toDouble
    def fpc(c: Column) = sum(round(c * scale).cast("decimal(38,0)"))
    val x = log(col("n_tokens").cast("double"))
    val y = log(col("vocab").cast("double"))
    val stats = ck.agg(count(lit(1)).as("__n"),
      fpc(x).as("__sx"), fpc(y).as("__sy"),
      fpc(x * x).as("__sxx"), fpc(x * y).as("__sxy"))
    val nD = col("__n").cast("double")
    def d(c: String) = col(c).cast("double") / scale
    val varX = nD * d("__sxx") - d("__sx") * d("__sx")
    val slope = (nD * d("__sxy") - d("__sx") * d("__sy")) / varX
    val fit = stats.select(
      (round(when(varX > 0, slope).otherwise(0d), 6) + lit(0d)).as("beta"),
      (round(when(varX > 0, (d("__sy") - slope * d("__sx")) / nD)
        .otherwise(0d), 6) + lit(0d)).as("log_k"))
    ck.crossJoin(broadcast(fit))
      .select(col("ckpt"), col("n_tokens"), col("vocab"),
        col("beta"), col("log_k"))
  }

  def zipfFit(df: DataFrame, textCol: String,
      topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val ranked = df
      .select(explode(split(col(textCol), " ", -1)).as("__w"))
      .where(length(col("__w")) > 0)
      .select(lower(col("__w")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(topN)
      .select(col("__c"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__c").desc, col("__w").asc)).as("__r"))
    val scale = (1L << 20).toDouble
    def fp(c: Column) = sum(round(c * scale).cast("decimal(38,0)"))
    val x = log(col("__r").cast("double"))
    val y = log(col("__c").cast("double"))
    val stats = ranked.agg(count(lit(1)).as("n_terms"),
      fp(x).as("__sx"), fp(y).as("__sy"),
      fp(x * x).as("__sxx"), fp(x * y).as("__sxy"))
    val n = col("n_terms").cast("double")
    def d(c: String) = col(c).cast("double") / scale
    val varX = n * d("__sxx") - d("__sx") * d("__sx")
    val slope = (n * d("__sxy") - d("__sx") * d("__sy")) / varX
    stats.select(col("n_terms"),
      (round(when(varX > 0, slope).otherwise(0d), 6) + lit(0d)).as("slope"),
      (round(when(varX > 0,
          (d("__sy") - slope * d("__sx")) / n).otherwise(0d), 6) + lit(0d))
        .as("intercept"))
  }

  /** Heavy changers between two corpus snapshots: the `k` terms whose
    * RELATIVE frequency (share of each corpus's total tokens) moved
    * most, by |Δshare| — the vocabulary-level drift readout that names
    * WHICH terms drove a [[headCoverage]] / [[zipfFit]] shape change
    * (a template flood shows up as a handful of terms surging; a source
    * going dark as its jargon collapsing). The lexical companion to
    * [[Drift.categoricalDrift]]: TV distance summarizes the move, this
    * itemizes it.
    *
    * Shares, not raw counts: corpora differ in size, and a term keeping
    * its share in a corpus that doubled is NOT a change. A term absent
    * from one side has share 0 there (the full-outer contract — new and
    * vanished terms are exactly the interesting rows).
    *
    * Output: top-`k` rows `(term, n_a, n_b, share_a, share_b, delta)`
    * with `delta` = share_b − share_a (signed: positive = surged in B),
    * ranked by |delta| desc, term asc.
    *
    * Replay determinism: counts and totals are exact longs; each share
    * and delta is one scalar double expression over those integers
    * (identical IEEE evaluation on any engine), and the rank key
    * |delta| is the same scalar, so the top-k cut replays exactly with
    * the term tie-break. Shape at scale: two map-side-combined term
    * counts, a full-outer merge on the term key, one-row total
    * broadcasts, and a distributed TakeOrdered for the top-k — no
    * global single-partition sort (the [[tfIdfTopK]] precedent).
    */
  def heavyChangers(a: DataFrame, b: DataFrame, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def termCounts(df: DataFrame, cnt: String) = df
      .select(explode(split(col(textCol), " ", -1)).as("__w"))
      .where(length(col("__w")) > 0)
      .groupBy(lower(col("__w")).as("term"))
      .agg(count(lit(1)).as(cnt))
    val ca = termCounts(a, "n_a")
    val cb = termCounts(b, "n_b")
    val merged = ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .crossJoin(broadcast(
        ca.agg(sum("n_a").as("__ta")).crossJoin(cb.agg(sum("n_b").as("__tb")))))
    val shareA = col("n_a").cast("double") / col("__ta").cast("double")
    val shareB = col("n_b").cast("double") / col("__tb").cast("double")
    merged
      .select(col("term"), col("n_a"), col("n_b"),
        shareA.as("__sa"), shareB.as("__sb"),
        (shareB - shareA).as("__d"))
      .orderBy(abs(col("__d")).desc, col("term").asc)
      .limit(k)
      .select(col("term"), col("n_a"), col("n_b"),
        (round(col("__sa"), 6) + lit(0d)).as("share_a"),
        (round(col("__sb"), 6) + lit(0d)).as("share_b"),
        (round(col("__d"), 6) + lit(0d)).as("delta"))
  }

  /** Per-document character-class mix: counts and ratios of ASCII
    * letters, digits, whitespace, non-ASCII codepoints, and "other"
    * (ASCII punctuation/symbols/control, by remainder) — the cheap
    * encoding-health probe that flags mojibake (non-ASCII spikes in an
    * ASCII-expected corpus), binary-in-text contamination (other-class
    * spikes), and digit dumps, upstream of the word-level
    * [[qualityScore]] signals that silently mis-read all three.
    *
    * Counting conventions (replayable): classes count CODEPOINTS via
    * `[A-Za-z]`, `[0-9]`, `[ \t\n\r]`, `[^\x00-\x7F]` — syntax with
    * identical semantics in Java regex and RE2 for BMP text (the
    * [[graft.ops.Pii]] portability contract); `n_chars` is
    * codepoint length; `other` = the exact remainder. Ratios round 6dp;
    * an empty doc reports zeros, one row per input doc always.
    *
    * Shape at scale: pure narrow codegen'd `regexp_count` projections —
    * no shuffle, no explode, scan-bound like [[Pii.stats]].
    */
  def charClassMix(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val n = length(col(textCol)).cast("long")
    def cnt(re: String) =
      regexp_count(col(textCol), lit(re)).cast("long")
    val letters = cnt("[A-Za-z]"); val digits = cnt("[0-9]")
    val ws = cnt("[ \\t\\n\\r]"); val nonAscii = cnt("[^\\x00-\\x7F]")
    def ratio(c: org.apache.spark.sql.Column) =
      when(col("n_chars") > 0L,
        round(c.cast("double") / col("n_chars").cast("double"), 6)
          + lit(0d)).otherwise(0d)
    df.select(col(idCol).as("doc_id"), n.as("n_chars"),
        letters.as("n_letters"), digits.as("n_digits"), ws.as("n_ws"),
        nonAscii.as("n_non_ascii"),
        (n - letters - digits - ws - nonAscii).as("n_other"))
      .select(col("doc_id"), col("n_chars"),
        col("n_letters"), col("n_digits"), col("n_ws"),
        col("n_non_ascii"), col("n_other"),
        ratio(col("n_letters")).as("letter_ratio"),
        ratio(col("n_digits")).as("digit_ratio"),
        ratio(col("n_non_ascii")).as("non_ascii_ratio"),
        ratio(col("n_other")).as("other_ratio"))
  }

  /** Unicode-SCRIPT mix per doc (round 17) — the refinement of
    * [[charClassMix]]'s opaque `n_non_ascii` bucket into the script
    * shares crawl curators actually act on: a "German" page that is
    * 40% Cyrillic is mislabeled or spam, mixed Latin+CJK flags
    * machine-translation residue, and a Devanagari share in an
    * "English" shard is an encoding pipeline bug. One codegen'd
    * narrow projection: per-script counts via single-char-class
    * regexp_count over PINNED BMP ranges (the same literal range
    * characters are interpolated into the oracle, so both engines
    * scan identical patterns), `other` = everything not covered
    * (punctuation/symbols/uncovered scripts). Shares are count/len
    * 6dp (0 on empty docs); counts + shares both reported. Output:
    * (doc_id, n_chars, n_<script>…, n_ws, n_other, share_<script>…,
    * share_other).
    */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "digit" -> "[0-9]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "cjk" -> "[一-鿿]",
    "kana" -> "[぀-ヿ]",
    "hangul" -> "[가-힯]",
    "arabic" -> "[؀-ۿ]",
    "hebrew" -> "[֐-׿]",
    "devanagari" -> "[ऀ-ॿ]")
  val ScriptWs = "[ \\t\\n\\r]"

  def scriptMix(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val n = length(col(textCol)).cast("long")
    def cnt(re: String) =
      regexp_count(col(textCol), lit(re)).cast("long")
    val counted = df.select(
      (col(idCol).as("doc_id") +: n.as("n_chars") +:
        ScriptClasses.map { case (name, re) => cnt(re).as(s"n_$name") })
        :+ cnt(ScriptWs).as("n_ws"): _*)
    val covered = (ScriptClasses.map(c => col(s"n_${c._1}"))
      :+ col("n_ws")).reduce(_ + _)
    val withOther = counted
      .withColumn("n_other", col("n_chars") - covered)
    def share(c: org.apache.spark.sql.Column) =
      when(col("n_chars") > 0L,
        round(c.cast("double") / col("n_chars").cast("double"), 6)
          + lit(0d)).otherwise(0d)
    withOther.select(
      (withOther.columns.map(col).toSeq ++
        ScriptClasses.map(c =>
          share(col(s"n_${c._1}")).as(s"share_${c._1}")) :+
        share(col("n_other")).as("share_other")): _*)
  }

  /** Corpus n-gram DIVERSITY per group — distinct-n (Li et al. 2016,
    * "A Diversity-Promoting Objective Function for Neural Conversation
    * Models"): the ratio of distinct to total word n-grams across the
    * whole group's text. The standard mode-collapse / template-spam
    * readout for a candidate training slice: a source whose distinct-2
    * is far below its peers is boilerplate-heavy or machine-generated
    * ([[repetition]] scores the same signal WITHIN one document; this
    * scores it ACROSS the group — a million distinct documents sharing
    * one template look clean per-doc and collapse here).
    *
    * Conventions: [[graft.functions.TextFunctions.words]] whitespace
    * tokens (the corpus contract); documents shorter than n words
    * contribute no n-grams (no whole-text fallback — a fabricated gram
    * would inflate diversity exactly where it matters).
    *
    * Shape at scale: per n, one narrow explode into a map-side-combined
    * (group, gram) count, re-aggregated per group — the same two-agg
    * shape as [[repetition]]; gram-vocabulary-sized shuffle, never
    * corpus². Output (grp, n, n_grams, n_distinct, distinct_ratio).
    */
  def distinctN(df: DataFrame, textCol: String, groupCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must all be >= 1")
    val staged = graft.util.Caches.persist(
      df.where(col(groupCol).isNotNull && col(textCol).isNotNull)
        .select(col(groupCol).cast("string").as("grp"),
          T.words(col(textCol)).as("__ws")))
    ns.map { n =>
      staged.where(size(col("__ws")) >= n)
        .select(col("grp"), explode(transform(
          sequence(lit(1), size(col("__ws")) - (n - 1)),
          i => array_join(slice(col("__ws"), i, lit(n)), " "))).as("__g"))
        .groupBy("grp", "__g").agg(count(lit(1)).as("__c"))
        .groupBy("grp")
        .agg(sum("__c").as("n_grams"), count(lit(1)).as("n_distinct"))
        .select(col("grp"), lit(n).cast("long").as("n"),
          col("n_grams"), col("n_distinct"),
          round(col("n_distinct").cast("double")
            / col("n_grams").cast("double"), 6).as("distinct_ratio"))
    }.reduce(_ unionAll _)
  }
}
