package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Unigram-LM subword tokenizer (Kudo 2018, the SentencePiece model) —
  * the BPE trio's sibling (SURVEY §2.3 extension surface): learn a
  * piece vocabulary by hard (Viterbi) EM over the distinct-word table,
  * then apply it as maximum-likelihood segmentation.
  *
  * The variant pinned here is Viterbi EM — the E-step assigns each
  * word its single best segmentation under the current model instead
  * of soft forward–backward expectations — a standard simplification
  * (hard EM) that keeps every quantity an exact long and makes the
  * whole procedure replayable as DuckDB SQL. Model shape per EM round:
  *
  *   cost6(p) = round(-ln(cnt_p / Σcnt) · 1e6)       (long micro-nats)
  *   segment every distinct word by Viterbi under cost6
  *     (tie rule: lower cost, then fewer tokens, then the longest
  *      final piece — [[graft.functions.ExprKernels.unigramSegment]])
  *   cnt'_p = Σ_w freq(w) · uses(p, w)               (exact longs)
  *
  * Seeding (the SentencePiece shape): all substrings of length
  * 1..`maxPieceLen` counted WITH multiplicity and weighted by word
  * frequency; the top `seedSize` by (count desc, piece asc) plus every
  * single character (coverage guarantee). An unknown single character
  * at apply time costs the pinned [[UnkCost6]] (byte-fallback stand-in).
  *
  * Shape at scale: the corpus is touched ONCE (word explode →
  * distinct-word counts, map-side combined, vocabulary-bounded);
  * seeding, EM and scoring all run over the distinct-word table —
  * corpus-size-independent after that first pass (the bpe_merges
  * precedent). The piece table is `seedSize`-bounded and rides into
  * the segmentation expression as a codegen reference object, never a
  * join. Per-round driver state: one vocab-bounded collect (the
  * principalComponents dim²-collect convention).
  */
object Unigram {

  /** Pinned unknown-single-character cost (micro-nats): 30 nats ≈
    * p = 9.4e-14 — worse than any real piece, better than failure.
    */
  val UnkCost6 = 30000000L

  private def costs6(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum.toDouble
    counts.map { case (p, c) =>
      p -> math.round(-math.log(c.toDouble / total) * 1e6)
    }.toMap
  }

  private def toJava(m: Map[String, Long]) = {
    val h = new java.util.HashMap[String, java.lang.Long](m.size * 2)
    m.foreach { case (k, v) => h.put(k, java.lang.Long.valueOf(v)) }
    h
  }

  private def segCol(wordCol: Column, costs: Map[String, Long],
      maxPieceLen: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Expressions.UnigramSegment(
        org.apache.spark.sql.GraftColumnBridge.expression(wordCol),
        toJava(costs), maxPieceLen, UnkCost6))

  /** Distinct words with corpus frequencies (one corpus pass). */
  private def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wn"))

  /** Learn a unigram piece vocabulary: `iters` rounds of Viterbi EM
    * from the substring seed. Output (ordered):
    * (rank, piece, cnt, logp) — the top `vocabSize` pieces by final
    * hard count (ties by piece), logp = round(ln(cnt/Σcnt), 6).
    */
  def learn(df: DataFrame, textCol: String, vocabSize: Int = 64,
      maxPieceLen: Int = 4, iters: Int = 2,
      seedSize: Int = 2048): DataFrame =
    graft.util.Fixpoint.scoped(df.sparkSession) { loop =>
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    val spark = loop.spark
    import spark.implicits._
    val wc = graft.util.Caches.persist(wordCounts(loop(df), textCol))

    // substring seed: (pos, len) grid per word, multiplicity × freq
    val subs = wc.select(col("wn"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
            least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => substring(col("w"), i, l)))))
        .as("p"))
      .groupBy("p").agg(sum("wn").as("cnt"))
    val top = subs.orderBy(col("cnt").desc, col("p"))
      .limit(seedSize)
    val singles = subs.where(length(col("p")) === 1)
    // union distinct by piece: a char already in the top keeps one row
    // (both definitions count the same corpus occurrences)
    var counts: Seq[(String, Long)] = top.unionByName(singles).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

    var it = 1
    while (it <= iters) {
      val seg = segCol(col("w"), costs6(counts), maxPieceLen)
      counts = wc.select(col("wn"), explode(seg.getField("pieces")).as("p"))
        .groupBy("p").agg(sum("wn").as("cnt"))
        // UNK fallback chars are not model pieces; hard counts only
        .where(col("p").isInCollection(counts.map(_._1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      it += 1
    }

    val total = counts.map(_._2).sum.toDouble
    val ranked = counts.sortBy { case (p, c) => (-c, p) }.take(vocabSize)
      .zipWithIndex.map { case ((p, c), i) =>
        (i + 1L, p, c,
          BigDecimal(math.log(c.toDouble / total))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      }
    wc.unpersist(blocking = false)
    ranked.toDF("rank", "piece", "cnt", "logp")
  }

  /** Per-document Viterbi encoding under a FIXED (piece, logp) vocab —
    * the trained-once / applied-everywhere tokenizer shape (the
    * bpe_encode precedent). Output per doc:
    * (doc_id, n_words, n_tokens, nll) with nll = round(Σcost6/1e6, 6),
    * the document's negative log-likelihood under the piece model.
    *
    * Shape at scale: segmentation runs ONCE per distinct word (the
    * distinct-word table, vocabulary-bounded), then joins back to the
    * per-doc word counts — the corpus shuffles once on the word key.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Double)], maxPieceLen: Int = 4): DataFrame = {
    val costs = pinnedCosts(vocab)
    val docWords = df
      .select(col(idCol).as("doc_id"), explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("__m"))
    val segs = docWords.select(col("w")).distinct()
      .select(col("w"), segCol(col("w"), costs, maxPieceLen).as("__s"))
      .select(col("w"), col("__s.n_tokens").as("__t"),
        col("__s.cost6").as("__c6"))
    docWords.join(segs, "w")
      .groupBy("doc_id")
      .agg(sum("__m").as("n_words"),
        sum(col("__m") * col("__t")).as("n_tokens"),
        sum(col("__m") * col("__c6")).as("__s6"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        (round(col("__s6").cast("double") / 1e6, 6) + lit(0d)).as("nll"))
  }

  /** Tokenizer fertility per group under the same fixed vocab (the
    * bpe_fertility precedent). Output per group (ordered by caller):
    * (group, n_docs, n_words, n_tokens, fertility).
    */
  def fertility(df: DataFrame, textCol: String, groupCol: String,
      vocab: Seq[(String, Double)], maxPieceLen: Int = 4): DataFrame = {
    val costs = pinnedCosts(vocab)
    val grpWords = df
      .select(col(groupCol).as("group"), lit(1L).as("__doc"),
        explode(T.words(col(textCol))).as("w"))
      .where(length(col("w")) >= 1)
    val perDoc = df.select(col(groupCol).as("group"))
      .groupBy("group").agg(count(lit(1)).as("n_docs"))
    val wcnt = grpWords.groupBy("group", "w").agg(count(lit(1)).as("__m"))
    val segs = wcnt.select(col("w")).distinct()
      .select(col("w"), segCol(col("w"), costs, maxPieceLen).as("__s"))
      .select(col("w"), col("__s.n_tokens").as("__t"))
    wcnt.join(segs, "w")
      .groupBy("group")
      .agg(sum("__m").as("n_words"),
        sum(col("__m") * col("__t")).as("n_tokens"))
      .join(perDoc, "group")
      .select(col("group"), col("n_docs"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words").cast("double"),
          6).as("fertility"))
  }

  /** logp (user-facing, ≤ 0) → pinned long micro-nat costs: the SAME
    * round both engines apply, so a literal vocab replays exactly.
    */
  def pinnedCosts(vocab: Seq[(String, Double)]): Map[String, Long] = {
    require(vocab.nonEmpty, "vocab must be non-empty")
    require(vocab.forall(_._2 <= 0.0), "logp entries must be <= 0")
    vocab.map { case (p, lp) => p -> math.round(-lp * 1e6) }.toMap
  }
}
