package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Byte-level BPE — the tokenizer GPT-family pipelines actually ship
  * (Radford et al. 2019 "Language Models are Unsupervised Multitask
  * Learners"; the merge algorithm is Sennrich et al. 2016): text is
  * decomposed to UTF-8 BYTES first, merges are learned over byte
  * symbols, and every byte is itself a symbol — so encoding is total
  * (no UNK by construction; an unseen codepoint falls back to its raw
  * bytes) and decode(encode(s)) round-trips the input bytes EXACTLY.
  * Completes the engine's tokenizer family: char-BPE
  * ([[TextAnalysis.bpeLearnMerges]]), unigram-LM ([[Unigram]]),
  * WordPiece ([[Wordpiece]]), and now byte-level BPE.
  *
  * SYMBOL REPRESENTATION. Each byte is written as its two-char
  * UPPERCASE hex (Spark `hex(encode(w,'UTF-8'))` ≡ DuckDB
  * `hex(encode(w))`); a merged symbol is the concatenation of its
  * parts' hex — e.g. t+h = "74"+"68" → "7468". GPT-2's byte-to-unicode
  * table is a cosmetic bijection byte↔printable-char; hex is an
  * equally lossless bijection that both engines spell identically, so
  * the oracle replays bit-for-bit. The round-trip invariant is
  * structural: merges only CONCATENATE, so stripping the frame
  * separators from any encoded word yields exactly `hex(bytes(word))`
  * at every merge depth.
  *
  * PRE-TOKENIZATION is whitespace words, the corpus convention shared
  * by the engine's other three tokenizers (GPT-2 uses a regex
  * pre-tokenizer; the merge machinery is identical either way). Unlike
  * the char-BPE/WordPiece learners there is NO separator-collision
  * drop: hex symbols are [0-9A-F] and can never contain the U+001F
  * frame character, so every non-empty word participates — the
  * "nothing is ever dropped" property byte-level BPE exists for.
  *
  * Shape at scale: the [[TextAnalysis.bpeLearnMerges]] loop on the
  * distinct-word table — one vocab-bounded pair aggregation per round,
  * a 1-row argmax to the driver, a narrow re-encode with
  * per-generation persist/evict; apply-time encoding is a pure
  * codegen'd string-expression chain evaluated ONCE per distinct word
  * and joined back by multiplicity (corpus-size-independent after the
  * one word-count pass).
  */
object ByteBpe {

  private val sep = TextAnalysis.FrameSep

  /** Per-byte framed hex of a word: each UTF-8 byte as ␟XX␟. */
  private def byteFramed(wCol: Column): Column =
    regexp_replace(hex(org.apache.spark.sql.functions.encode(
      wCol, "UTF-8")), "(..)", s"$sep$$1$sep")

  private def requireHexMerges(merges: Seq[(String, String)]): Unit =
    require(merges.forall { case (a, b) =>
      Seq(a, b).forall(s => s.nonEmpty && s.length % 2 == 0 &&
        s.forall(c => c.isDigit || (c >= 'A' && c <= 'F'))) },
      "byte-BPE merge symbols must be non-empty even-length uppercase hex")

  /** The encoded framed symbol string + token count for one word under
    * a fixed merge table, both narrow codegen'd string expressions.
    */
  private def encodedExprs(wCol: Column,
      merges: Seq[(String, String)]): (Column, Column) = {
    val enc = merges.foldLeft(byteFramed(wCol)) { case (e, (a, b)) =>
      replace(e, lit(s"$sep$a$sep$sep$b$sep"), lit(s"$sep$a$b$sep"))
    }
    val nTok = ((length(enc)
      - length(replace(enc, lit(sep), lit("")))) / 2).cast("long")
    (enc, nTok)
  }

  /** Learn `rounds` byte-level merges: per round, count adjacent symbol
    * pairs over the distinct-word table (weighted by corpus frequency),
    * merge the most frequent pair (ties (a, b) ascending — the
    * [[TextAnalysis.bpeLearnMerges]] argmax), re-encode. Output
    * (ordered): (merge_round, left_sym, right_sym, merged, cnt).
    *
    * Stops early (fewer rows) if the corpus runs out of pairs — a
    * single-byte-words corpus yields zero merges, loudly visible as an
    * empty result rather than padded rounds.
    */
  def learn(df: DataFrame, textCol: String, rounds: Int = 4,
      checkpointEvery: Int = 0): DataFrame = {
    val picked = TextAnalysis.learnMerges(df.sparkSession, rounds,
      checkpointEvery, "bytebpe",
      graft.util.Caches.persist(
        df.select(explode(split(col(textCol), " ")).as("w"))
          .where(length(col("w")) >= 1)
          .groupBy("w").agg(count(lit(1)).as("wn"))
          .select(byteFramed(col("w")).as("e"), col("wn"))))(
      TextAnalysis.mostFrequent)
    TextAnalysis.mergeTable(df.sparkSession, picked)
  }

  /** Encode each document under a fixed merge table. Output per doc:
    * (doc_id, n_words, n_tokens, n_bytes) — no n_unk column because UNK
    * is impossible by construction (every byte is a symbol); n_bytes is
    * the UTF-8 payload the token count is judged against
    * (bytes-per-token is byte-BPE's compression figure of merit).
    *
    * Shape at scale: segmentation is evaluated once per DISTINCT word
    * (vocabulary-bounded), then joined back to per-doc multiplicities —
    * the corpus shuffles once on the word key.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    requireHexMerges(merges)
    val docWords = df
      .select(col(idCol).as("doc_id"), explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("__m"))
    val (_, nTok) = encodedExprs(col("w"), merges)
    val segs = docWords.select(col("w")).distinct()
      .select(col("w"), nTok.as("__t"),
        length(org.apache.spark.sql.functions.encode(col("w"), "UTF-8"))
          .cast("long").as("__b"))
    docWords.join(segs, "w")
      .groupBy("doc_id")
      .agg(sum("__m").as("n_words"),
        sum(col("__m") * col("__t")).as("n_tokens"),
        sum(col("__m") * col("__b")).as("n_bytes"))
  }

  /** Fertility + compression by group (usually language) under a fixed
    * merge table: tokens per whitespace word AND bytes per token — the
    * pair of per-language diagnostics a byte-level vocabulary is
    * actually judged by (a language the merges never saw still encodes,
    * just at ~1 token/byte). Output per group: (group, n_docs, n_words,
    * n_tokens, n_bytes, fertility[6dp], bytes_per_token[6dp]).
    */
  def fertility(df: DataFrame, textCol: String, groupCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    requireHexMerges(merges)
    val groupWords = df
      .select(col(groupCol).as("group"), explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("group", "w").agg(count(lit(1)).as("__m"))
    val (_, nTok) = encodedExprs(col("w"), merges)
    val segs = groupWords.select(col("w")).distinct()
      .select(col("w"), nTok.as("__t"),
        length(org.apache.spark.sql.functions.encode(col("w"), "UTF-8"))
          .cast("long").as("__b"))
    val nDocs = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_docs"))
    groupWords.join(segs, "w")
      .groupBy("group")
      .agg(sum("__m").as("n_words"),
        sum(col("__m") * col("__t")).as("n_tokens"),
        sum(col("__m") * col("__b")).as("n_bytes"))
      .join(nDocs, "group")
      .select(col("group"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_bytes"),
        round(col("n_tokens").cast("double")
          / col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_bytes").cast("double")
          / col("n_tokens").cast("double"), 6).as("bytes_per_token"))
  }
}
