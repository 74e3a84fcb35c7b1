package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** WordPiece subword tokenizer (Schuster & Nakajima 2012 — the BERT
  * tokenizer) — the third public tokenizer family beside BPE
  * ([[TextAnalysis.bpeLearnMerges]], frequency-scored merges) and the
  * unigram LM ([[Unigram]], Viterbi likelihood): learning is the BPE
  * loop with a LIKELIHOOD-RATIO merge score, application is greedy
  * longest-match-first with the "##" continuation convention.
  *
  * Learn: per round over the framed distinct-word table, the merge that
  * maximizes score(a, b) = cnt(ab) / (cnt(a) · cnt(b)) — the pair whose
  * merge most improves a unigram LM's corpus likelihood (count alone,
  * BPE's rule, prefers frequent-but-independent pairs; the ratio
  * prefers pairs that CO-OCCUR beyond chance). Symbol sequences are the
  * separator-framed strings of [[TextAnalysis.bpeLearnMerges]] (each
  * symbol wrapped ␟sym␟, merges as one literal replace), so any engine
  * replays the loop verbatim.
  *
  * Apply: maximal munch — at each position take the longest vocab piece
  * (raw span ≤ `maxPieceLen` chars; word-initial pieces match as-is,
  * continuations carry the "##" prefix); a word with no match at some
  * position becomes ONE unknown token (the BERT convention). The piece
  * set rides into a native codegen'd expression
  * ([[graft.functions.Expressions.WordpieceSegment]]) as a reference
  * object — vocab-bounded model state, never a join.
  *
  * Shape at scale (the tokenizer-trio convention): the corpus collapses
  * ONCE to a distinct-word count table (map-side combined); learning is
  * vocab-bounded work per round with ONE argmax row to the driver;
  * encode/fertility segment each DISTINCT word once and join back to
  * per-doc/group multiplicities (one shuffle on the word key).
  */
object Wordpiece {

  private def segCol(wordCol: Column, pieces: Seq[String],
      maxPieceLen: Int): Column = {
    val set = new java.util.HashSet[String](pieces.size * 2)
    pieces.foreach(set.add)
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Expressions.WordpieceSegment(
        org.apache.spark.sql.GraftColumnBridge.expression(wordCol),
        set, maxPieceLen))
  }

  /** Iterative WordPiece merge learning: `rounds` times, count adjacent
    * symbol pairs AND single symbols over the framed distinct-word
    * table (weighted by word frequency), merge the pair with the
    * highest likelihood score cnt(ab)/(cnt(a)·cnt(b)) (ties to the
    * lexicographically smallest (a, b)), re-encode. Stops early when no
    * pair remains. Output one row per executed round:
    * (merge_round, left_sym, right_sym, merged, cnt, score) — score
    * rounded to 6dp for the readout, the argmax uses the raw double
    * (identical IEEE arithmetic in any engine).
    *
    * Scale shape: the [[TextAnalysis.bpeLearnMerges]] loop — one
    * vocab-bounded pair aggregation plus one vocab-bounded symbol
    * aggregation per round, a 1-row argmax to the driver, a narrow
    * re-encode with per-generation persist/evict.
    */
  def learn(df: DataFrame, textCol: String, rounds: Int = 4,
      checkpointEvery: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val picked = TextAnalysis.learnMerges(df, rounds, checkpointEvery,
        "wordpiece", TextAnalysis.charFramed(_, textCol, "Wordpiece.learn")) {
      (syms, pairs) =>
        val symCounts = syms
          .select(col("wn"), explode(col("ss")).as("s"))
          .groupBy("s").agg(sum("wn").as("scnt"))
        pairs
          .join(symCounts.withColumnRenamed("s", "a")
            .withColumnRenamed("scnt", "ca"), "a")
          .join(symCounts.withColumnRenamed("s", "b")
            .withColumnRenamed("scnt", "cb"), "b")
          .select(col("a"), col("b"), col("cnt"),
            (col("cnt").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double")))
              .as("score"))
          .orderBy(col("score").desc, col("a"), col("b"))
          .limit(1).collect().headOption
    }
    picked.zipWithIndex.map { case (t, i) =>
      (i + 1L, t.getString(0), t.getString(1),
        t.getString(0) + t.getString(1), t.getLong(2),
        BigDecimal(t.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0)
    }.toDF("merge_round", "left_sym", "right_sym", "merged", "cnt",
      "score")
  }

  /** Greedy encoding under a FIXED piece set (word-initial pieces
    * as-is, continuations "##"-prefixed — the shipped-vocabulary
    * shape). Output per doc: (doc_id, n_words, n_tokens, n_unk) —
    * every unknown word contributes ONE token and one unk count.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[String], maxPieceLen: Int = 4): DataFrame = {
    require(pieces.nonEmpty, "pieces must be non-empty")
    val docWords = df
      .select(col(idCol).as("doc_id"), explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("__m"))
    val segs = docWords.select(col("w")).distinct()
      .select(col("w"), segCol(col("w"), pieces, maxPieceLen).as("__s"))
      .select(col("w"), col("__s.n_tokens").as("__t"),
        when(col("__s.is_unk"), 1L).otherwise(0L).as("__u"))
    docWords.join(segs, "w")
      .groupBy("doc_id")
      .agg(sum("__m").as("n_words"),
        sum(col("__m") * col("__t")).as("n_tokens"),
        sum(col("__m") * col("__u")).as("n_unk"))
  }

  /** Tokenizer fertility + UNK rate per group under the same fixed
    * piece set (the bpe_fertility twin, plus the unk_rate column a
    * WordPiece vocabulary is judged by per language). Output per
    * group: (group, n_docs, n_words, n_tokens, n_unk, fertility,
    * unk_rate).
    */
  def fertility(df: DataFrame, textCol: String, groupCol: String,
      pieces: Seq[String], maxPieceLen: Int = 4): DataFrame = {
    require(pieces.nonEmpty, "pieces must be non-empty")
    val perDoc = df.select(col(groupCol).as("group"))
      .groupBy("group").agg(count(lit(1)).as("n_docs"))
    val wcnt = df
      .select(col(groupCol).as("group"),
        explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("group", "w").agg(count(lit(1)).as("__m"))
    val segs = wcnt.select(col("w")).distinct()
      .select(col("w"), segCol(col("w"), pieces, maxPieceLen).as("__s"))
      .select(col("w"), col("__s.n_tokens").as("__t"),
        when(col("__s.is_unk"), 1L).otherwise(0L).as("__u"))
    wcnt.join(segs, "w")
      .groupBy("group")
      .agg(sum("__m").as("n_words"),
        sum(col("__m") * col("__t")).as("n_tokens"),
        sum(col("__m") * col("__u")).as("n_unk"))
      .join(perDoc, "group")
      .select(col("group"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_unk"),
        round(col("n_tokens").cast("double") / col("n_words").cast("double"),
          6).as("fertility"),
        round(col("n_unk").cast("double") / col("n_words").cast("double"),
          6).as("unk_rate"))
  }
}
