package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.streaming.StreamingOps

/** Driver-contract queries for the LLM-data-pipeline extension operators
  * (SURVEY §2.3): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force / LSH-ANN / IVF),
  * text analysis, multimodal columns, and event-time aggregation.
  *
  * Every oracle below REPLAYS the operator's exact arithmetic in DuckDB
  * (same md5-derived hashes, same mod-P permutations, same sequential
  * double accumulation, same rounding) — see
  * [[graft.functions.TextFunctions]] / [[graft.functions.VectorFunctions]]
  * for the determinism contract.
  */
object ExtensionQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(spark: SparkSession, dir: String) =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embs(spark: SparkSession, dir: String) =
    spark.read.parquet(s"$dir/embeddings.parquet")
  private def events(spark: SparkSession, dir: String) =
    Tables.events(spark, dir)

  /** Deterministic MESSY crawl URLs derived from the documents table —
    * the url_normalize / domain_mix gate input: every pinned
    * normalization rule gets exercised (uppercase scheme+host, a www
    * prefix, the scheme's default port, a trailing slash every 4th doc,
    * a query with NO path every 7th doc, MIXED-CASE tracking names,
    * fragments every 5th doc). The
    * oracle builds the IDENTICAL string ([[urlSrcCte]]).
    */
  private def urlDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), col("n_chars"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("HTTP://")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":80")),
        when(col("doc_id") % 7 === 0, lit("")) // query-with-NO-path rows
          .otherwise(concat(lit("/Path/"), (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")))),
        when(col("doc_id") % 3 === 0,
          concat(lit("?UTM_Source=x&utm_campaign="), // mixed-case tracking
            (col("doc_id") % 2).cast("string")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("?id="), (col("doc_id") % 5).cast("string"),
              lit("&GCLID=G123&q=a+b")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#Section-2")).otherwise(lit("")))
        .as("url"))

  /** The DuckDB replica of [[urlDocs]] as a CTE body named `src`. */
  private lazy val urlSrcCte: String = """src AS (
        SELECT doc_id, n_chars,
          (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'HTTP://' END)
          || source || '.Example.COM'
          || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
          || (CASE WHEN doc_id % 7 = 0 THEN ''
              ELSE '/Path/' || (doc_id % 50)::VARCHAR
                || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) END)
          || (CASE WHEN doc_id % 3 = 0
                THEN '?UTM_Source=x&utm_campaign=' || (doc_id % 2)::VARCHAR
              WHEN doc_id % 3 = 1
                THEN '?id=' || (doc_id % 5)::VARCHAR || '&GCLID=G123&q=a+b'
              ELSE '' END)
          || (CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END)
            AS url
        FROM documents)"""

  /** The quality classifier's scores rejoined with the training label —
    * the shared input of the classifier_auc / classifier_eval /
    * classify_calibration evaluation gates.
    */
  private def nbScored(spark: SparkSession, dir: String) = {
    val d = docs(spark, dir)
    Classify.naiveBayes(d, "doc_id", "text",
        col("source").isin(NbTrusted: _*), NbBuckets)
      .join(d.select(col("doc_id"),
        col("source").isin(NbTrusted: _*).as("pos")), "doc_id")
  }

  /** One scratch directory (and ONE delete-at-exit shutdown hook) per
    * query name for the queries that materialize files: repeated
    * invocations in a long-lived session (bench warm-up + reps) reuse the
    * same directory instead of accumulating hooks and multi-hundred-MB
    * layouts on disk until JVM exit.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def scratchDir(name: String): java.nio.file.Path =
    scratchDirs.computeIfAbsent(name, { n =>
      val t = java.nio.file.Files.createTempDirectory(n)
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmrf(t)))
      t
    })

  /** Shuffle partitions of the streaming gates' own session
    * ([[graft.util.Fixpoint.scoped]]), which builds and drains each
    * stream. Stateful streaming operators open one state store
    * per shuffle partition per micro-batch (a stream-stream join opens
    * FOUR): at the session's 32 partitions that is ~100 store files of
    * pure fixed overhead per trigger on gate-sized data (measured 16.3s →
    * 5.5s on streaming_join at sf0.1 going 32 → 4). The partition count
    * freezes into the checkpoint at query START, from the session the
    * stream was read on.
    */
  private val StatePartitions = 4

  /** Recursive delete, tolerant of concurrent removal. */
  private def rmrf(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach { f =>
        try java.nio.file.Files.deleteIfExists(f)
        catch { case _: java.io.IOException => () }
      } finally walk.close()
    }

  // ---- tunables (mirrored verbatim into the oracle SQL) ----
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val LinkNameW = 0.7
  private val LinkSegW = 0.3
  private val LinkMinScore = 0.95
  private val EvalK = 10
  private val EvalRelTf = 2
  // wedge work is Σ_z min(deg z, cap)²: 64 keeps the sf0.1 co-occurrence
  // graph's hub tail out of the enumeration (hub-center candidates are
  // the weakest signal per pair) — 256 cost 31 s at sf0.1 for near-
  // identical candidate quality
  private val LinkPredMaxDeg = 64
  private val LinkPredMinCommon = 2L
  private val FunnelGapSec = 3600L
  private val AttrWindowSec = 3600L
  private val SkewTopK = 20
  private val HeadK = 50
  private val BoilerMinDocs = 2
  private val BitextMinMargin = 0.01
  // the corpus×corpus (two-large-sides) bitext path: sign-LSH candidate
  // generation at the annTopK banding, nearDupPairs' oversized-bucket
  // key extension as the quadratic guard
  private val BitextBands = 16
  private val BitextR = 4
  private val BitextMaxBucket = 4096
  // CUSUM: drift target ~= corpus mean, half-sigma slack, alarm at 10x
  private val CusumTarget = 50.0
  private val CusumSlack = 5.0
  private val CusumThreshold = 500.0
  private val UtilBucketSec = 3600L
  private val MinhashK = 64
  private val MinhashB = 16
  private val MinhashR = 4
  private val JaccardThreshold = 0.9
  private val NgramN = 5
  private val NgramBucket = 50
  private val NgramThreshold = 0.5
  private val NgramSampleMod = 4
  private val NgramMaxBlock = 20
  private val NgramLshBands = 8
  private val SimhashMaxBucket = 64
  private val TriMaxGroup = 10
  private val LpaIters = 2
  private val BloomPriceMin = 400000.0
  private val BloomBits = 1 << 18
  private val BloomK = 5
  private val EditMaxDist = 5
  private val EditBucket = 20
  private val EditMaxBlock = 1024
  private val EmbedDupThreshold = 0.4
  private val EmbedMaxBucket = 16
  // Sakoe–Chiba radius for the ts_dtw gate (hours of allowed warp).
  private val TsDtwBand = 24
  // k-truss gate: support >= 3 per surviving edge, 3-round peel budget
  // (the sf0.01 co-occurrence graph reaches its fixpoint in 3 rounds).
  private val KtrussK = 5
  private val KtrussRounds = 3
  // randomized response gate: report truth w.p. 3/4 (eps = ln(12) at
  // the 5-language domain).
  private val RrPNum = 3L
  private val RrPDen = 4L
  // label_krippendorff: rater 3 abstains under this length (median ~305
  // at sf0.01 — roughly half the units carry 2 labels, half 3).
  private val KrippMinChars = 300
  // DBSCAN gate: at sf0.01 this (threshold, minPts) yields 252 core /
  // 157 border / 91 noise across 3 clusters — all three roles and the
  // multi-cluster topology exercised, incl. the oversized-bucket key
  // extension (same maxBucket as the dedup_embedding gate).
  private val DbscanThreshold = 0.2
  private val DbscanMinPts = 4
  private val TopK = 5
  private val NQueryVecs = 10
  // MaxSim late interaction: 4 token vectors per synthetic doc, first
  // MaxSimQ docs are the queries
  private val MaxSimTokens = 4
  private val MaxSimQ = 3
  private val MaxSimK = 5
  private val DsirBuckets = 128
  // the "trusted sources" seed set the NB quality classifier trains on
  private val NbTrusted = Seq("src1", "src5", "src9", "src13", "src17")
  private val NbBuckets = 128
  private val HammingRadius = 3
  private val RendezvousK = 8
  private val CurateKeepFrac = 0.5
  private val IvfProbes = 2
  private val AppendOffset = 1000000L
  private val ContainThreshold = 0.7
  private val StratMaxBucket = 4096
  // stratified containment spends a longer signature: level 2 (the
  // extreme-skew tail) is k bands of 1, recall 1-(1-j)^k
  private val StratK = 128
  // weighted (tf-multiset) Jaccard dedup: capped-tf expansion + minhash
  // 0.7: the template-generated corpus puts ~8% of ALL pairs above 0.5
  // weighted Jaccard (shared vocabulary), while >=0.7 is the real
  // near-dup band (29 pairs at sf0.01)
  private val WeightedThreshold = 0.7
  private val WeightedMaxTf = 16
  private val BpeMinCount = 2L
  private val PmiMinPair = 5L
  private val BasketMinSupport = 10L
  private val CcQtyMin = 49
  private val HilbertNBits = 6
  private val SeasonalLo = 0.25
  private val SeasonalHi = 4.0
  private val PerStratumK = 20
  private val ChunkSize = 32
  private val ChunkOverlap = 8
  private val QfMinChars = 100L
  private val QfMaxChars = 450L
  private val QfMinWords = 20L
  private val QfMinTtr = 0.40
  private val QfMinStopword = 0.02
  private val QfMaxPunct = 0.10
  private val CentroidEvery = 100
  // PQ codebooks are per-SUBSPACE (8 dims each): a denser seed set than
  // the full-width IVF cells is the right ratio — K = n/25 entries per
  // subspace
  private val PqCentroidEvery = 25
  private val KmeansIters = 2
  private val SampleRate = 0.25
  private val StratRates = Map("en" -> 0.5, "de" -> 0.1)
  private val StratDefault = 1.0
  private val ShardBudget = 50000L
  private val ShuffleSalt = "ep0"
  private val UpWeights = Map("de" -> 2.3, "en" -> 0.5)
  private val UpDefault = 1.0
  private val WtopK = 100
  private val PackBudget = 2000L
  private val PackBuckets = 8
  private val PackSalt = "pk0"
  private val CapBudget = 2500L
  private val CapSalt = "cap0"
  private val ChunkPackBudget = 128L
  private val RollWindowSec = 86400L
  // 0.25: exact in binary, so alpha and 1-alpha round-trip as literals
  private val EwmaAlpha = 0.25
  // Holt smoothing: both exact binary fractions (0.5/0.5, 0.25/0.75)
  private val HoltAlpha = 0.5
  private val HoltBeta = 0.25
  // blocklist terms chosen from the synthetic vocabulary so hits exist
  private val BlockTerms = Seq("dup", "slow", "stream", "vector")
  // target mixture proportions; es deliberately unlisted (dropped)
  private val RebalanceTargets =
    Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.2)
  // 0.5: the classic square-root temperature; weights round to 6dp so the
  // cross-engine pow contract holds (see Sampling.temperatureRebalance)
  private val TempAlpha = 0.5
  private val SemDedupThreshold = 0.3
  private val KcoreK = 4
  private val KcoreRounds = 4
  private val RollHllWindow = 3
  // 0.9 compares only 6dp-rounded identical doubles, so inexactness of
  // the literal itself cannot split the engines
  private val JwMinSim = 0.9
  private val LmAlpha = 0.1
  private val KnDiscount = 0.75
  private val DupSpanN = 8
  // within-doc self-repetition gate gram size (shorter than DupSpanN so
  // the synthetic corpus's internal repeats are actually visible)
  private val SelfRepN = 3
  // graph_scc fixture: high-quantity flows s->c, low-quantity flows c->s
  private val SccQtyHi = 49
  private val SccQtyLo = 2
  // 100.0: exact in binary — alpha0 literals replay identically
  private val KeynessAlpha = 100.0
  private val KeynessTopK = 10
  private val KmvJk = 256
  // 0.25 is exactly representable in binary: ceil(p*n) can never straddle
  // a double rounding boundary between engines
  private val TopFrac = 0.25

  private val HllM = 512
  private val KanonK = 8L
  private val LdivL = 3L
  private val TclosT = 0.2
  private val DpScale = 4.0
  private val DpSalt = "dp9"
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")
  // byte-level BPE trio (round 19): the SAME pinned merge chain as
  // BpeMerges but in UTF-8 byte space (uppercase hex symbols) — the
  // corpus is ASCII so char- and byte-merges walk the same pairs and
  // the chained-application order stays exercised; the multi-byte
  // round-trip is pinned in ByteBpeSpec.
  private val ByteBpeMerges: Seq[(String, String)] = Seq(
    "74" -> "68", "7468" -> "65", "69" -> "6E", "61" -> "6E",
    "616E" -> "64", "65" -> "72", "6F" -> "6E", "72" -> "65")
  private val ByteBpeRounds = 4
  // unigram-LM tokenizer trio (round 18): learn knobs + the fixed
  // apply-time vocab (the BpeMerges trained-once precedent)
  private val UniMaxPiece = 4
  private val UniSeed = 48
  private val UniIters = 2
  private val UniVocab = 24
  /** Oracle DP horizon (chained CTEs); corpus max word length is 8. */
  private val UniMaxWord = 12
  private val UniEncVocab: Seq[(String, Double)] =
    ('a' to 'z').map(c => c.toString -> -4.5) ++ Seq(
      "th" -> -2.1, "jo" -> -2.2, "in" -> -2.0, "ta" -> -2.3,
      "ble" -> -2.6, "row" -> -1.9, "scan" -> -2.0, "sh" -> -2.2,
      "ha" -> -2.3, "er" -> -2.1, "or" -> -2.4, "der" -> -2.5,
      "que" -> -2.8, "ry" -> -2.4, "val" -> -2.7, "ue" -> -2.6,
      "st" -> -2.2, "re" -> -2.3, "am" -> -2.5, "gg" -> -2.9,
      "lu" -> -2.8, "mn" -> -2.9, "wi" -> -2.7, "nd" -> -2.4,
      "ow" -> -2.3)

  /** SQL VALUES body for a (piece, cost6) vocab table — cost6 via the
    * SAME [[graft.ops.Unigram.pinnedCosts]] round the Spark side uses.
    */
  private def uniVocabValues(vocab: Seq[(String, Double)]): String =
    graft.ops.Unigram.pinnedCosts(vocab).toSeq.sortBy(_._1)
      .map { case (p, c6) => s"('$p', ${c6}::BIGINT)" }.mkString(", ")

  // WordPiece trio (round 18): learn rounds + the fixed apply piece set.
  // All word-initial singles are present; continuation singles OMIT
  // q/x/z so words carrying them mid-word exercise the UNK path; the
  // multi-char pieces exercise maximal munch over the corpus words.
  private val WpMaxPiece = 4
  private val WpMaxWord = 12 // oracle greedy horizon; corpus max word 8
  private val WpRounds = 4
  private val WpPieces: Seq[String] =
    ('a' to 'z').map(_.toString) ++
    ('a' to 'z').filterNot(c => c == 'q' || c == 'x' || c == 'z')
      .map(c => "##" + c) ++ Seq(
    "th", "sc", "scan", "qu", "ro", "row", "ta", "wi", "st",
    "##an", "##and", "##ble", "##er", "##ery", "##in", "##ing",
    "##ow", "##que", "##re", "##rie", "##st", "##nd", "##he")

  private def wpVocabValues: String =
    WpPieces.sorted.map(p => s"('$p')").mkString(", ")

  /** Greedy WordPiece segmentation as chained CTEs over a distinct-word
    * CTE `dw(w)` and a piece CTE `wpv(p)`: state w{tag}0..w{tag}N of
    * (w, pos, tok, unk); each step advances every unfinished word by
    * its LONGEST matching piece (word-initial as-is, continuations
    * "##"-prefixed), or marks it UNK (tok = 1) when nothing matches —
    * [[graft.functions.ExprKernels.wordpieceSegment]]'s exact rule.
    * Emits a final CTE `wfin{tag}(w, tok, unk)`.
    */
  private def wpGreedySql(tag: String, dwCte: String,
      vocabCte: String): String = {
    val steps = (1 to WpMaxWord).map { r =>
      val prev = if (r == 1)
        s"(SELECT w, 0::BIGINT AS pos, 0::BIGINT AS tok, false AS unk " +
          s"FROM $dwCte)"
      else s"w$tag${r - 1}"
      s"""a$tag$r AS MATERIALIZED (
        SELECT s.w, s.pos, s.tok,
          max(CASE WHEN v.p IS NOT NULL THEN t.k END) AS bestk
        FROM $prev s
        CROSS JOIN unnest(generate_series(1, $WpMaxPiece)) AS t(k)
        LEFT JOIN $vocabCte v ON s.pos + t.k <= length(s.w)
          AND v.p = (CASE WHEN s.pos = 0 THEN substr(s.w, 1, t.k::INT)
            ELSE '##' || substr(s.w, (s.pos + 1)::INT, t.k::INT) END)
        WHERE s.pos < length(s.w) AND NOT s.unk
        GROUP BY 1, 2, 3),
      w$tag$r AS MATERIALIZED (
        SELECT w,
          CASE WHEN bestk IS NULL THEN length(w)::BIGINT
            ELSE pos + bestk END AS pos,
          CASE WHEN bestk IS NULL THEN 1::BIGINT ELSE tok + 1 END AS tok,
          (bestk IS NULL) AS unk
        FROM a$tag$r
        UNION ALL
        SELECT w, pos, tok, unk FROM $prev
        WHERE pos >= length(w) OR unk)"""
    }.mkString(",\n      ")
    // Horizon guard (round-18 ADVICE): the chain advances at least one
    // character per step, so a word still unfinished after WpMaxWord
    // steps is LONGER than the pinned horizon — erroring loudly beats
    // silently undercounting its tokens (or falsely agreeing with a
    // similarly-truncated Spark count) if the fixture corpus ever gains
    // longer words. error() is lazy per-row: zero violating rows, zero
    // cost.
    s"""$steps,
      wfin$tag AS MATERIALIZED (
        SELECT w,
          CASE WHEN pos < length(w) AND NOT unk
            THEN error('wordpiece oracle: word exceeds the ' ||
              '$WpMaxWord-step greedy horizon: ' || w)
            ELSE tok END AS tok,
          unk
        FROM w$tag$WpMaxWord)"""
  }

  /** Forward Viterbi DP as chained CTEs: states s{tag}1..s{tag}N over a
    * distinct-word CTE `dw(w)` and a vocab CTE `vocab(p, c6)`; emits a
    * final CTE `fin{tag}(w, st)` with each word's end-state
    * (st = cost6·1024 + n_tokens, the kernel's encoding; min state =
    * min cost then fewest tokens — [[graft.functions.ExprKernels
    * .unigramSegment]]'s tie rule).
    */
  private def uniDpSql(tag: String, dwCte: String, vocabCte: String): String = {
    val unk = graft.ops.Unigram.UnkCost6
    val steps = (1 to UniMaxWord).map { i =>
      val cands = (1 to math.min(UniMaxPiece, i)).map { k =>
        val prev = if (i - k == 0) s"(SELECT w, 0::BIGINT AS st FROM $dwCte)"
          else s"s$tag${i - k}"
        val cost =
          if (k == 1)
            s"coalesce(v.c6 * 1024 + 1, ${unk}::BIGINT * 1024 + 1)"
          else "v.c6 * 1024 + 1"
        val extra = if (k == 1) "" else " AND v.p IS NOT NULL"
        s"""SELECT s.w, s.st + $cost AS cand
          FROM $prev s LEFT JOIN $vocabCte v
            ON v.p = substr(s.w, ${i - k + 1}, $k)
          WHERE length(s.w) >= $i$extra"""
      }.mkString("\n          UNION ALL ")
      s"""s$tag$i AS MATERIALIZED (
        SELECT w, min(cand)::BIGINT AS st FROM (
          $cands) GROUP BY w)"""
    }.mkString(",\n      ")
    val fin = (1 to UniMaxWord).map(i =>
      s"SELECT w, st FROM s$tag$i WHERE length(w) = $i")
      .mkString("\n        UNION ALL ")
    // Horizon guard (round-18 ADVICE, same class as [[wpGreedySql]]):
    // a word longer than UniMaxWord has NO fin row and would silently
    // vanish from the inner join-back — error loudly instead.
    s"""$steps,
      fin$tag AS MATERIALIZED (
        $fin
        UNION ALL
        SELECT w, error('unigram oracle: word exceeds the ' ||
          '$UniMaxWord-char DP horizon: ' || w)::BIGINT AS st
        FROM $dwCte WHERE length(w) > $UniMaxWord)"""
  }

  /** [[uniDpSql]] plus an all-positions state table `all{tag}(w, pos,
    * st)` (position 0 = state 0) — what the learn oracle's backtrack
    * walks.
    */
  private def uniDpAllSql(tag: String, dwCte: String,
      vocabCte: String): String = {
    val allRows = (1 to UniMaxWord).map(i =>
      s"SELECT w, ${i}::BIGINT AS pos, st FROM s$tag$i WHERE length(w) >= $i")
      .mkString("\n        UNION ALL ")
    s"""${uniDpSql(tag, dwCte, vocabCte)},
      all$tag AS MATERIALIZED (
        SELECT w, 0::BIGINT AS pos, 0::BIGINT AS st FROM $dwCte
        UNION ALL $allRows)"""
  }

  /** Viterbi backtrack as chained CTEs over `all{tag}`: b{tag}0 starts
    * at each word's end position; step r picks THE chosen edge at the
    * current position — the smallest previous position whose state plus
    * the edge cost equals the current state (the kernel's first-
    * smallest-j tie rule) — and emits its piece. `used{tag}(w, piece)`
    * collects every emitted piece WITH multiplicity.
    */
  private def uniBacktrackSql(tag: String, vocabCte: String): String = {
    val unk = graft.ops.Unigram.UnkCost6
    val steps = (1 to UniMaxWord).map { r =>
      s"""b$tag$r AS MATERIALIZED (
        SELECT w, pos, piece FROM (
          SELECT b.w, f2.pos AS pos,
            substr(b.w, (f2.pos + 1)::INT, (b.pos - f2.pos)::INT) AS piece,
            row_number() OVER (PARTITION BY b.w ORDER BY f2.pos) AS rn
          FROM b$tag${r - 1} b
          JOIN all$tag fp ON fp.w = b.w AND fp.pos = b.pos
          JOIN all$tag f2 ON f2.w = b.w
            AND f2.pos >= b.pos - $UniMaxPiece AND f2.pos < b.pos
          LEFT JOIN $vocabCte v
            ON v.p = substr(b.w, (f2.pos + 1)::INT, (b.pos - f2.pos)::INT)
          WHERE b.pos > 0
            AND f2.st + (CASE WHEN v.p IS NOT NULL THEN v.c6 * 1024 + 1
              WHEN b.pos - f2.pos = 1 THEN ${unk}::BIGINT * 1024 + 1
              END) = fp.st)
        WHERE rn = 1)"""
    }.mkString(",\n      ")
    val used = (1 to UniMaxWord).map(r =>
      s"SELECT w, piece FROM b$tag$r").mkString("\n        UNION ALL ")
    s"""b${tag}0 AS MATERIALIZED (
        SELECT w, length(w)::BIGINT AS pos, NULL::VARCHAR AS piece
        FROM (SELECT DISTINCT w FROM all$tag)),
      $steps,
      used$tag AS MATERIALIZED (
        SELECT w, piece FROM (
        $used) WHERE piece IS NOT NULL)"""
  }
  /** chr(31)-framed symbol literal for the BPE-apply oracle. */
  private def bpeFrame(s: String): String = s"chr(31)||'$s'||chr(31)"

  /** The [[BpeMerges]] replace chain over a framed-text SQL expression —
    * one nested literal `replace` per merge, in merge order, exactly like
    * the Spark-side fold in TextAnalysis.bpeApplyMerges.
    */
  private def bpeChainSql(base: String): String =
    BpeMerges.foldLeft(base) { case (e, (a, b)) =>
      s"replace($e, ${bpeFrame(a)}||${bpeFrame(b)}, ${bpeFrame(a + b)})"
    }

  /** The [[ByteBpeMerges]] replace chain (byte-hex symbols, same framed
    * replace shape as [[bpeChainSql]]).
    */
  private def byteBpeChainSql(base: String): String =
    ByteBpeMerges.foldLeft(base) { case (e, (a, b)) =>
      s"replace($e, ${bpeFrame(a)}||${bpeFrame(b)}, ${bpeFrame(a + b)})"
    }

  /** Per-byte framed hex of a DuckDB word expression — the oracle twin
    * of ByteBpe.byteFramed (Spark hex(encode(w,'UTF-8')) and DuckDB
    * hex(encode(w)) both emit uppercase).
    */
  private def byteFramedSql(w: String): String =
    s"regexp_replace(hex(encode($w)), '(..)', chr(31)||'\\1'||chr(31), 'g')"

  // HTML-extraction gate (round 19): deterministic synthetic markup
  // around each document's text — ONE engine-neutral SQL expression
  // (|| concat and CASE only) shared verbatim by the Spark gate
  // (selectExpr), the parsed-config chain (SqlTransform), and the
  // DuckDB oracle. Block anatomy: a nav (3 words, 3 links -> dropped
  // on link density), an h1 (2 words -> dropped on minWords), the
  // corpus text in a <p> (kept iff its stopword density clears 5% —
  // discriminative: roughly half the corpus), a promo block on every
  // third doc (5 words, 2 links -> dropped), a comment (stripped) and
  // a footer (2 words, 2 links -> dropped).
  private val HtmlSynthExpr: String =
    "'<html><head><title>d</title><style>p{c:1}</style>" +
      "<script>var x=1;</script></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/b\">Docs</a></nav><h1>Doc ' || " +
      "CAST(doc_id AS STRING) || '</h1><p>' || text || '</p>' || " +
      "CASE WHEN doc_id % 3 = 0 THEN '<p>Click <a href=\"#\">here</a>" +
      " or <a href=\"#\">subscribe</a> now</p>' ELSE '' END || " +
      "'<!-- t --><footer><a href=\"#\">Terms</a> " +
      "<a href=\"#\">Privacy</a></footer></body></html>'"

  /** Html.stopCount's doubled-space arithmetic as DuckDB SQL over a
    * `dbl` expression (the pinned Html.DefaultStopwords list).
    */
  private def htmlStopCountSql(dbl: String): String =
    graft.ops.Html.DefaultStopwords.map { sw =>
      s"((length($dbl) - length(replace($dbl, ' $sw ', '')))" +
        s" / ${sw.length + 2})::BIGINT"
    }.mkString("(", " + ", ")")

  // Encoding-repair gate (round 19): inject repertoire chars into the
  // ASCII corpus, corrupt via the PINNED artifact table (the injected
  // subset — chained full-table corruption would double-corrupt
  // artifacts of artifacts), repair with the full table.
  private val MojiSeedExpr: String =
    "replace(replace(replace(replace(text, 'table', 'tablé'), " +
      "'query', 'qu’ry'), 'spark', 'spärk'), 'fast', 'fást…')"
  private val MojiGateChars = Seq("é", "’", "ä", "á", "…")
  private def mojiCorruptSql(base: String): String =
    MojiGateChars.foldLeft(base) { (e, c) =>
      val m = graft.ops.Mojibake.Table.find(_._2 == c)
        .getOrElse(sys.error(s"no artifact for $c"))._1
      s"replace($e, '$c', '$m')"
    }
  private def mojiRepairSql(base: String): String =
    graft.ops.Mojibake.Table.foldLeft(base) { case (e, (m, c)) =>
      s"replace($e, '$m', '$c')"
    }

  // Depth-2 gate: the injected words are replaced by their DOUBLY
  // double-decoded forms, computed driver-side from the real byte
  // transform (chained char-wise SQL corruption would re-corrupt its
  // own output) — one literal shared by both engines.
  private val MojiSeed2Expr: String =
    Seq("table" -> "tablé", "query" -> "qu’ry", "spark" -> "spärk",
      "fast" -> "fást…").foldLeft("text") { case (e, (w, r)) =>
      val c2 = graft.ops.Mojibake.corrupt(graft.ops.Mojibake.corrupt(r))
      s"replace($e, '$w', '$c2')"
    }

  // NFC gate: inject a decomposed e+combining-acute and the Angstrom
  // sign (U+212B, whose NFC is Å U+00C5), plus a composed 'thé'
  // control that must pass through unchanged.
  private val NfcSeedExpr: String =
    "replace(replace(replace(text, 'table', 'table\u0301'), " +
      "'fast', 'f\u212Bst'), 'the', 'th\u00E9')"

  private val NegK = 4
  private val NegBuckets = 64
  private val AnomK = 3.0
  private val AnomWeeklyK = 3.0
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val CmsTopN = 10
  // join-size sketch: collision noise ~ Na*Nb/width, so the width is
  // sized to the tables (4 x 4096 cells is still KB-scale)
  private val JsWidth = 4096
  private val ZBits = 16
  private val ZBlock = 4096L
  // per-block bloom: m = 2^16 bits over <= ZBlock keys/block (~0.1% FP
  // at k=5); probe ids cover every generated SF plus a guaranteed miss
  private val ZBloomMBits = 1 << 16
  // randomization-test permutation count (bounded explode multiplier)
  private val AbPerms = 100
  // events_survival: a unit whose last event falls inside the final 72 h
  // of the corpus window is censored (still active at the horizon)
  private val SurvivalCensorH = 72L
  // ab_cuped: pre-period = the first 15 days from the corpus min ts
  private val CupedSplitDays = 15L
  private val ZipfTopN = 1000
  // chi2(1 dof) critical value at alpha = 0.05 for the two-arm SRM gate
  private val SrmChi2Threshold = 3.841
  private val HeavyChangeK = 25
  private val PseudoSalt = "rel1"
  private val AttrHalfLifeSec = 900L
  private val ZBloomProbeIds = Seq("1", "2", "3", "4", "5", "10003",
    "10004", "10006", "10007", "123456789")
  private val ZPruneXLo = 100L
  private val ZPruneXHi = 400L
  private val ZPruneYLo = 10L
  private val ZPruneYHi = 60L
  private val ProjIn = 64
  private val ProjOut = 16
  private val MadK = 3.5

  /** h32 keep-threshold for a rate — MUST match Sampling.thresholdOf. */
  private def sampleThreshold(rate: Double): Long =
    math.max(0L, math.min(P, (rate * P).toLong))

  /** α_m·m² for the HLL estimator as a round-trip double literal: the
    * Spark plan folds `lit(alpha * m * m)` at build time, so the oracle
    * must divide by the BIT-IDENTICAL double (Double.toString is the
    * shortest representation that parses back to the same value).
    */
  private def hllAlphaM2Lit: String = {
    val m = HllM.toDouble
    (0.7213 / (1.0 + 1.079 / m) * m * m).toString
  }

  /** HLL register CTE over a (`grp`, h) source — the replay of
    * Sketches.hllRegisters shared by the shard-merge, intersection and
    * rolling-window oracles.
    */
  /** The PQ train/encode/ADC replay chain (WITH sub .. pairs) shared by
    * the similarity_pq and pq_recall oracles.
    */
  /** The PQ train/encode/lut replay chain (CTE list WITHOUT a WITH
    * prefix and WITHOUT a pairs CTE), composable with other chains
    * (similarity_ivfpq prepends the IVF cell CTEs).
    */
  private lazy val pqChain: String = pqChainFrom("embeddings")

  /** [[pqChain]] over an arbitrary source table/CTE carrying
    * (vec_id, embedding) — the OPQ oracle runs it over the ROTATED
    * embeddings CTE instead of the raw parquet table.
    */
  private def pqChainFrom(src: String): String = s"""
      sub AS (
        SELECT vec_id, s,
          list_transform(embedding[s*8+1 : s*8+8], x -> x::DOUBLE) AS sv
        FROM $src, unnest(generate_series(0, 7)) AS t(s)
        WHERE len(embedding) = 64
      ), seeds AS (
        SELECT s, vec_id AS c_id, sv AS c_emb FROM sub
        WHERE vec_id % $PqCentroidEvery = 0
      ), a1 AS (
        SELECT vec_id, s, c_id FROM (
          SELECT sub.vec_id, sub.s, seeds.c_id,
            row_number() OVER (PARTITION BY sub.vec_id, sub.s
              ORDER BY (round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), d -> (sub.sv[d] - seeds.c_emb[d]) * (sub.sv[d] - seeds.c_emb[d]))), (x, y) -> x + y), 6) + 0) ASC, seeds.c_id ASC) AS rn
          FROM sub JOIN seeds ON seeds.s = sub.s)
        WHERE rn = 1
      ), cb AS (
        SELECT s, c_id, list(m ORDER BY d) AS c_emb FROM (
          SELECT a1.s, a1.c_id, d,
            SUM(CAST(round(sub.sv[d] * 1048576.0) AS BIGINT))::DOUBLE
              / COUNT(*) / 1048576.0 AS m
          FROM a1 JOIN sub ON sub.vec_id = a1.vec_id AND sub.s = a1.s
          CROSS JOIN generate_series(1, 8) t(d)
          GROUP BY a1.s, a1.c_id, d)
        GROUP BY s, c_id
      ), enc AS (
        SELECT vec_id, s, c_id FROM (
          SELECT sub.vec_id, sub.s, cb.c_id,
            row_number() OVER (PARTITION BY sub.vec_id, sub.s
              ORDER BY (round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), d -> (sub.sv[d] - cb.c_emb[d]) * (sub.sv[d] - cb.c_emb[d]))), (x, y) -> x + y), 6) + 0) ASC, cb.c_id ASC) AS rn
          FROM sub JOIN cb ON cb.s = sub.s)
        WHERE rn = 1
      ), lut AS (
        SELECT sub.vec_id AS q_id, sub.s, cb.c_id,
          CAST(round((round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), d -> (sub.sv[d] - cb.c_emb[d]) * (sub.sv[d] - cb.c_emb[d]))), (x, y) -> x + y), 6) + 0) * 1048576.0) AS BIGINT) AS pd
        FROM sub JOIN cb ON cb.s = sub.s
        WHERE sub.vec_id < $NQueryVecs
      )"""

  /** [[pqChain]] plus the exhaustive all-pairs ADC — shared by the
    * similarity_pq and pq_recall oracles.
    */
  private lazy val pqCtes: String = s"""WITH $pqChain, pairs AS (
        SELECT lut.q_id, enc.vec_id AS n_id,
          SUM(lut.pd)::DOUBLE / 1048576.0 AS adist
        FROM enc JOIN lut ON lut.s = enc.s AND lut.c_id = enc.c_id
        WHERE lut.q_id != enc.vec_id
        GROUP BY 1, 2
      )"""

  /** Trained-literal handoff from the pq_recall_opq QUERY to its ORACLE:
    * graft.Verify runs every query BEFORE dumping oracle SQL (the dump
    * ordering contract), so the trained rotation is available here when
    * the oracle string is built.
    */
  private[queries] object OpqTrained {
    @volatile var rotation: Option[Seq[Seq[Double]]] = None
  }

  /** Runtime-observed dof handoff for the ANY-dof χ² survival oracles
    * (ab_kruskal, ab_chi2_independence): the unrolled series length
    * depends on the OBSERVED arm/category counts, so the oracle builder
    * reads what the query measured (the [[OpqTrained]] contract —
    * Verify dumps oracle SQL AFTER running every query). An UNSET
    * holder dumps a loud `SELECT error(...)` statement — the gate then
    * fails visibly instead of silently passing a degraded replay.
    */
  private[queries] object StatTrained {
    @volatile var kruskalDof: Option[Int] = None
    @volatile var chi2Dof: Option[Int] = None
    @volatile var fisherN: Option[Int] = None
  }

  /** Loud-failure oracle for dump-time-trained replays whose trained
    * state is missing (the query never ran, or failed, in this JVM):
    * DuckDB raises on error(), so the driver records an errored gate
    * row — never a silent pass against stale state.
    */
  private def untrainedOracle(name: String, what: String): String =
    s"SELECT error('$name: oracle dumped without $what — the query " +
      "did not run (or failed) in this JVM')"

  /** Replay of Drift.kruskalWallis: per-(group, value) exact counts,
    * window cumulative CDF (the oracle may window; the engine may not),
    * exact HUGEINT 2·R_g and tie sums, group-ASC list_reduce fold for
    * Σ R²/n, pinned-order H — and the χ²(k−1) survival p UNROLLED at
    * dump time from the OBSERVED arm count via
    * [[graft.functions.PValues.chiSqSurvivalSql]] (round 16; the old
    * static CASE hardcoded dof 2/4 arms and silently NULLed any other —
    * the round-14 ADVICE defect).
    */
  private def kruskalOracle: String = StatTrained.kruskalDof match {
    case None => untrainedOracle("ab_kruskal", "the observed dof")
    case Some(dof) =>
      val p = graft.functions.PValues.chiSqSurvivalSql("hh.h", dof)
      s"""
      WITH gv AS (
        SELECT o_orderpriority::VARCHAR AS g, o_totalprice::DOUBLE AS v,
          count(*)::BIGINT AS c
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1, 2),
      vc AS (SELECT v, sum(c)::BIGINT AS k FROM gv GROUP BY 1),
      cdf AS (SELECT v, k, sum(k) OVER (ORDER BY v) - k AS cx FROM vc),
      pg AS (
        SELECT g, sum(c)::BIGINT AS n,
          sum(c::HUGEINT * (2 * cx::HUGEINT + k::HUGEINT + 1)) AS r2
        FROM gv JOIN cdf USING (v) GROUP BY g),
      tot AS (
        SELECT sum(n)::BIGINT AS nn, count(*)::BIGINT AS kg,
          (SELECT sum(k::HUGEINT * k::HUGEINT * k::HUGEINT - k::HUGEINT)
           FROM vc) AS tie,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(r2::DOUBLE / 2 * (r2::DOUBLE / 2) / n::DOUBLE ORDER BY g)),
            (a, b) -> a + b) AS s
        FROM pg),
      hh AS (
        SELECT nn, kg,
          CASE WHEN (1.0::DOUBLE - tie::DOUBLE
              / (nn::DOUBLE * nn::DOUBLE * nn::DOUBLE - nn::DOUBLE)) > 0
            THEN (12.0::DOUBLE / (nn::DOUBLE * (nn::DOUBLE + 1.0::DOUBLE))
                * s - 3.0::DOUBLE * (nn::DOUBLE + 1.0::DOUBLE))
              / (1.0::DOUBLE - tie::DOUBLE
                / (nn::DOUBLE * nn::DOUBLE * nn::DOUBLE - nn::DOUBLE))
            ELSE 12.0::DOUBLE / (nn::DOUBLE * (nn::DOUBLE + 1.0::DOUBLE))
              * s - 3.0::DOUBLE * (nn::DOUBLE + 1.0::DOUBLE) END AS h
        FROM tot)
      SELECT pg.g AS grp, pg.n,
        pg.r2::DOUBLE / 2 AS rank_sum,
        (round(pg.r2::DOUBLE / 2 / pg.n::DOUBLE, 6) + 0.0) AS mean_rank,
        (round(hh.h, 6) + 0.0) AS h,
        (hh.kg - 1)::BIGINT AS dof,
        (round($p, 6) + 0.0) AS p_value
      FROM pg, hh
      ORDER BY grp"""
  }

  /** Replay of Drift.chiSquareIndependence: exact cell/margin counts,
    * full-grid empty-cell terms, ×2^20 fixed-point cross-cell sum — and
    * (round 16) the ANY-dof χ² survival p unrolled at dump time from
    * the observed (r−1)(c−1).
    */
  private def chi2IndependenceOracle: String = StatTrained.chi2Dof match {
    case None =>
      untrainedOracle("ab_chi2_independence", "the observed dof")
    case Some(dof) =>
      val p =
        if (dof >= 1)
          "(round(" +
            graft.functions.PValues.chiSqSurvivalSql("tc.x", dof) +
            ", 6) + 0.0)"
        else "NULL::DOUBLE"
      s"""
      WITH ev AS (
        SELECT coalesce(event_type, '(null)') AS x,
          coalesce(((epoch_us(ts) // 3600000000) % 24)::VARCHAR,
            '(null)') AS y
        FROM events),
      occ AS (SELECT x, y, count(*)::BIGINT AS o FROM ev GROUP BY 1, 2),
      rx AS (SELECT x, sum(o)::BIGINT AS rx FROM occ GROUP BY 1),
      cy AS (SELECT y, sum(o)::BIGINT AS cy FROM occ GROUP BY 1),
      tot AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT x)::BIGINT AS r,
        count(DISTINCT y)::BIGINT AS c FROM occ),
      cells AS (
        SELECT rx.x, cy.y, rx.rx, cy.cy, coalesce(occ.o, 0) AS o
        FROM rx CROSS JOIN cy LEFT JOIN occ USING (x, y)),
      t AS (
        SELECT n, r, c,
          sum(round(((o::DOUBLE - rx::DOUBLE * cy::DOUBLE / n::DOUBLE)
            * (o::DOUBLE - rx::DOUBLE * cy::DOUBLE / n::DOUBLE)
            / (rx::DOUBLE * cy::DOUBLE / n::DOUBLE))
            * 1048576.0)::BIGINT)::BIGINT AS chi2fp
        FROM cells, tot
        GROUP BY n, r, c),
      tc AS (
        SELECT n, r, c, chi2fp::DOUBLE / 1048576.0 AS x FROM t)
      SELECT n, r AS n_rows_x, c AS n_cols_y,
        (round(tc.x, 6) + 0.0) AS chi2,
        ((r - 1) * (c - 1))::BIGINT AS dof,
        (round(CASE WHEN r > 1 AND c > 1 THEN
          sqrt(tc.x
            / (n::DOUBLE * least(r - 1, c - 1)::DOUBLE)) END, 6) + 0.0)
          AS cramers_v,
        $p AS p_value
      FROM tc"""
  }

  /** Replay of Drift.fisherExact on the nation 2×2: the ×2^20
    * log-factorial prefix table rides as dump-time BIGINT list literals
    * (generated by the SAME StrictMath.log recurrence the operator
    * used, so the integer log-pmf combinations — and therefore the
    * two-sided inclusion set — are exact on both engines); the tail sum
    * folds ascending-k, clamps, rounds 6dp.
    */
  private def fisherOracle: String = StatTrained.fisherN match {
    case None => untrainedOracle("ab_fisher", "the observed table size")
    case Some(n) =>
      val lfl = graft.ops.Drift.logFactFp(n).mkString("[", ", ", "]")
      s"""
      WITH lf AS (SELECT $lfl::BIGINT[] AS v),
      src AS (
        SELECT n_regionkey <= 1 AS x, n_nationkey % 2 = 0 AS y
        FROM nation
        WHERE n_regionkey IS NOT NULL AND n_nationkey IS NOT NULL),
      cells AS (
        SELECT
          coalesce(sum(CASE WHEN x AND y THEN 1 END), 0)::BIGINT AS a,
          coalesce(sum(CASE WHEN x AND NOT y THEN 1 END), 0)::BIGINT AS b,
          coalesce(sum(CASE WHEN NOT x AND y THEN 1 END), 0)::BIGINT AS c,
          coalesce(sum(CASE WHEN NOT x AND NOT y THEN 1 END), 0)::BIGINT
            AS d
        FROM src),
      m AS (
        SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
          b + d AS c2, a + b + c + d AS nn
        FROM cells),
      ks AS (
        SELECT m.*, unnest(generate_series(greatest(0, c1 - r2),
          least(r1, c1))) AS k
        FROM m),
      lp AS (
        SELECT ks.k, ks.a,
          (lf.v[ks.r1 + 1] + lf.v[ks.r2 + 1] + lf.v[ks.c1 + 1]
            + lf.v[ks.c2 + 1] - lf.v[ks.nn + 1] - lf.v[ks.k + 1]
            - lf.v[ks.r1 - ks.k + 1] - lf.v[ks.c1 - ks.k + 1]
            - lf.v[ks.r2 - ks.c1 + ks.k + 1])::BIGINT AS lpfp
        FROM ks, lf),
      obs AS (SELECT lpfp AS lpobs FROM lp WHERE k = a),
      ps AS (
        SELECT least(1.0::DOUBLE, list_reduce(list_prepend(0.0::DOUBLE,
          list(exp(lpfp::DOUBLE / 1048576.0) ORDER BY k)),
          (x, y) -> x + y)) AS p
        FROM lp, obs WHERE lpfp <= lpobs)
      SELECT nn AS n, a AS n11, b AS n12, c AS n21, d AS n22,
        (CASE WHEN b > 0 AND c > 0 THEN round((a::DOUBLE * d::DOUBLE)
          / (b::DOUBLE * c::DOUBLE), 6) + 0.0 END) AS odds_ratio,
        (round(ps.p, 6) + 0.0) AS p_value
      FROM m, ps"""
  }

  /** The pq_recall_opq oracle, built AT DUMP TIME from the trained OPQ
    * rotation: rotate every embedding row with dim literal-coefficient
    * dot products (same sequential fold + 6dp round + -0 normalization
    * as Pq.rotate; coefficients ride as CAST('…' AS DOUBLE) string
    * literals so Double.toString round-trips bit-exactly), run the PQ
    * train/encode/ADC chain over the rotated CTE, and score recall
    * against the RAW-embedding exact-L2 truth — the identical truth
    * block as the pq_recall oracle, so the two gauges stay directly
    * comparable. When no query ran in this JVM the dump is a LOUD
    * error() statement (round 16, closing the round-14 ADVICE hole: the
    * old identity-rotation fallback could silently pass against stale
    * parquet if the query failed mid-Verify).
    */
  private def opqRecallOracle: String = {
    if (OpqTrained.rotation.isEmpty)
      return untrainedOracle("pq_recall_opq", "a trained OPQ rotation")
    val dim = 64
    val rot = OpqTrained.rotation.get
    val rlit = rot.map(_.map(x => s"'${x.toString}'")
      .mkString("[", ",", "]")).mkString("[", ",\n        ", "]")
    s"""WITH rotlit AS (
        SELECT unnest(generate_series(1, $dim)) AS r,
               unnest($rlit) AS rv
      ), re AS (
        SELECT e.vec_id,
          list(round(list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, $dim),
              d -> e.embedding[d]::DOUBLE * CAST(rot.rv[d] AS DOUBLE))),
            (x, y) -> x + y), 6) + 0 ORDER BY rot.r) AS embedding
        FROM embeddings e, rotlit rot
        WHERE len(e.embedding) = $dim
        GROUP BY e.vec_id
      ), ${pqChainFrom("re")}, pairs AS (
        SELECT lut.q_id, enc.vec_id AS n_id,
          SUM(lut.pd)::DOUBLE / 1048576.0 AS adist
        FROM enc JOIN lut ON lut.s = enc.s AND lut.c_id = enc.c_id
        WHERE lut.q_id != enc.vec_id
        GROUP BY 1, 2
      ), adc AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id, adist,
            row_number() OVER (
              PARTITION BY q_id ORDER BY adist, n_id) AS rank
          FROM pairs)
        WHERE rank <= $TopK
      ), truth AS (
        SELECT q_id, n_id FROM (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            row_number() OVER (PARTITION BY a.vec_id ORDER BY
              (round(list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, $dim),
                   d -> (a.embedding[d]::DOUBLE - b.embedding[d]::DOUBLE)
                      * (a.embedding[d]::DOUBLE - b.embedding[d]::DOUBLE))),
                 (x, y) -> x + y), 6) + 0) ASC, b.vec_id ASC) AS rank
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
          WHERE a.vec_id < $NQueryVecs
            AND len(a.embedding) = $dim AND len(b.embedding) = $dim)
        WHERE rank <= $TopK
      )
      SELECT t.q_id, count(adc.n_id)::BIGINT AS hits,
        round(count(adc.n_id)::DOUBLE / $TopK, 6) AS recall
      FROM truth t LEFT JOIN adc ON adc.q_id = t.q_id AND adc.n_id = t.n_id
      GROUP BY t.q_id
      ORDER BY t.q_id"""
  }

  private def hllRegCte(src: String, out: String,
      grp: String = "l_returnflag"): String = s"""
      $out AS (
        SELECT $grp, h % $HllM AS b,
          max(CASE WHEN h // $HllM = 0 THEN ${graft.functions.Sketches.RhoCap}
            ELSE floor(log2(((h // $HllM) & (-(h // $HllM)))::DOUBLE))::BIGINT + 1
            END) AS m
        FROM $src GROUP BY 1, 2)"""

  /** HLL estimate CTE over a register table, output column `e` — the
    * replay of Sketches.hllEstimate (linear-counting correction, 4dp).
    */
  private def hllEstCte(regs: String, out: String,
      grp: String = "l_returnflag"): String = s"""
      $out AS (
        SELECT $grp,
          round(CASE WHEN raw <= (${2.5 * HllM})::DOUBLE AND ($HllM - nb) > 0
            THEN ($HllM)::DOUBLE * ln(($HllM)::DOUBLE / ($HllM - nb))
            ELSE raw END, 4) AS e
        FROM (SELECT $grp, nb,
                (${hllAlphaM2Lit})::DOUBLE / (inv + ($HllM - nb)) AS raw
              FROM (SELECT $grp, sum(pow(2.0, -m)) AS inv,
                      count(*) AS nb
                    FROM $regs GROUP BY 1)))"""

  /** The Morton interleave as portable SQL — generated from the same bit
    * positions as Layout.zValueN (column j's bit b at position k*b+j) so
    * both engines evaluate the identical k·bits-term integer expression.
    */
  private def zorderSqlExprN(cols: Seq[String], bits: Int): String = {
    val k = cols.size
    (for {
      b <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield s"((($c >> $b) & 1) << ${k * b + j})")
      .mkString("(", " + ", ")")
  }

  private def zorderSqlExpr(x: String, y: String, bits: Int): String =
    zorderSqlExprN(Seq(x, y), bits)

  /** Chained-CTE replay of ExprKernels.hilbertN (Skilling's transpose)
    * for k state coords x0..x{k-1}: the inverse-undo pass needs one CTE
    * per (level, axis) because axis 0 mutates sequentially WITHIN a
    * level; Gray/correction fold into two more CTEs (their dependencies
    * expand in-line). Expects a CTE `hn0` carrying (carry..., x0..x{k-1});
    * yields `hnfin` with the final transposed axes, and
    * [[hilbertNInterleave]] turns them into the curve position.
    */
  private def hilbertNCtes(bits: Int, k: Int, carry: String): String = {
    val axes = (0 until k).map(i => s"x$i")
    def others(i: Int) = axes.filterNot(_ == s"x$i")
    var prev = "hn0"
    var ix = 0
    val sb = new StringBuilder
    for (lvl <- 0 until (bits - 1); i <- 0 until k) {
      val q = 1L << (bits - 1 - lvl)
      val p = q - 1
      val cur = s"hn${ix + 1}"
      val body =
        if (i == 0)
          // exchange of axis 0 with itself is a no-op: only the invert arm
          (s"CASE WHEN (x0 & $q) != 0 THEN xor(x0, $p) ELSE x0 END AS x0" +:
            others(0).map(a => s"$a AS $a")).mkString(", ")
        else {
          val xi = s"x$i"
          (Seq(
            s"CASE WHEN ($xi & $q) != 0 THEN xor(x0, $p) " +
              s"ELSE xor(x0, (xor(x0, $xi) & $p)) END AS x0",
            s"CASE WHEN ($xi & $q) != 0 THEN $xi " +
              s"ELSE xor($xi, (xor(x0, $xi) & $p)) END AS $xi") ++
            axes.filterNot(a => a == "x0" || a == xi).map(a => s"$a AS $a"))
            .mkString(", ")
        }
      sb.append(s", $cur AS (SELECT $carry, $body FROM $prev)\n")
      prev = cur
      ix += 1
    }
    // Gray encode: X[i] ^= X[i-1] sequentially — expand the chain in-line
    // (new X[i] = x_i xor x_{i-1} xor ... xor x_0)
    val gray = axes.zipWithIndex.map { case (_, i) =>
      val chain = (0 to i).map(j => s"x$j")
        .reduceLeft((a, b) => s"xor($a, $b)")
      s"$chain AS x$i"
    }.mkString(", ")
    sb.append(s", hngray AS (SELECT $carry, $gray FROM $prev)\n")
    // t = xor of (Q-1) over levels where the LAST axis has bit Q set
    val tExpr = (0 until (bits - 1)).map { lvl =>
      val q = 1L << (bits - 1 - lvl)
      s"(CASE WHEN (x${k - 1} & $q) != 0 THEN ${q - 1} ELSE 0 END)"
    }.reduceLeft((a, b) => s"xor($a, $b)")
    sb.append(s", hnt AS (SELECT $carry, ${axes.map(a => s"$a AS $a")
      .mkString(", ")}, $tExpr AS t FROM hngray)\n")
    sb.append(s", hnfin AS (SELECT $carry, ${axes.map(a =>
      s"xor($a, t) AS $a").mkString(", ")} FROM hnt)\n")
    sb.toString
  }

  /** MSB-first interleave of the transposed axes — the curve position. */
  private def hilbertNInterleave(bits: Int, k: Int): String =
    (for {
      q <- (bits - 1) to 0 by -1
      i <- 0 until k
    } yield s"(((x$i >> $q) & 1) << ${q * k + (k - 1 - i)})")
      .mkString("(", " + ", ")")

  /** One CTE per Hilbert level — the literal replay of
    * ExprKernels.hilbert2: rx/ry read the CURRENT frame, d accumulates
    * s²·(3rx xor ry), the frame flips + transposes when ry = 0. Expects a
    * CTE named `hbase` with columns (x, y, id); yields h0..h<bits>, where
    * h<bits>.d is the curve position.
    */
  private def hilbertCtes(bits: Int): String = {
    val n = 1L << bits
    val h0 = s"""h0 AS (
        SELECT x, y, id, (x & ${n - 1}) AS hx, (y & ${n - 1}) AS hy,
          0::BIGINT AS d
        FROM hbase)"""
    val steps = (0 until bits).map { i =>
      val s = n >> (i + 1)
      s"""h${i + 1} AS (
        SELECT x, y, id,
          CASE WHEN (hy & $s) = 0
            THEN CASE WHEN (hx & $s) != 0 THEN ${n - 1} - hy ELSE hy END
            ELSE hx END AS hx,
          CASE WHEN (hy & $s) = 0
            THEN CASE WHEN (hx & $s) != 0 THEN ${n - 1} - hx ELSE hx END
            ELSE hy END AS hy,
          d + ${s * s} * xor(
            3 * (CASE WHEN (hx & $s) != 0 THEN 1 ELSE 0 END),
            (CASE WHEN (hy & $s) != 0 THEN 1 ELSE 0 END)) AS d
        FROM h$i)"""
    }
    (h0 +: steps).mkString(",\n")
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> { (spark, dir) =>
      Dedup.exact(docs(spark, dir), keys = Seq("text"), tieBreak = Seq("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "profile_table" -> { (spark, dir) =>
      Profile.table(spark.read.parquet(s"$dir/lineitem.parquet"),
          Seq("l_orderkey", "l_quantity", "l_returnflag"))
        .orderBy("column")
    },

    // Snapshot drift over a deterministic synthetic "next load": the
    // %10==3 slice vanishes (data loss) and the %10==7 slice's price
    // doubles (range excursion) — the oracle profiles both snapshots
    // independently and joins, so every stat delta and the drifted flag
    // are semantically checked.
    "profile_drift" -> { (spark, dir) =>
      val before = spark.read.parquet(s"$dir/orders.parquet")
      val after = before.where(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 7, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      Profile.drift(before, after,
          Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
        .orderBy("column")
    },

    "dedup_incremental" -> { (spark, dir) =>
      // Ingest-batch dedup against a persisted digest store: docs >= 250
      // arrive as the new batch; docs < 250 are history (digests only).
      val d = docs(spark, dir)
      Dedup.exactIncremental(
          d.where(col("doc_id") >= 250),
          Dedup.digests(d.where(col("doc_id") < 250), Seq("text")),
          Seq("text"), Seq("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "dedup_minhash_pairs" -> { (spark, dir) =>
      Dedup.minhashPairs(docs(spark, dir), "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_minhash_apply" -> { (spark, dir) =>
      Dedup.minhashApply(docs(spark, dir), "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // One-permutation signature: same banding/verify machinery, one pass
    // over the shingles instead of k permutations (the k-times-cheaper
    // signature at corpus scale).
    "dedup_minhash_oph" -> { (spark, dir) =>
      Dedup.minhashPairsOPH(docs(spark, dir), "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_minhash_cc" -> { (spark, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashPairs(docs(spark, dir), "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold))
        .orderBy("doc_id")
    },

    // "HOW duplicated is this corpus": cluster-size histogram over the
    // near-dup components + the singleton mass — the dedup budget
    // readout (round 17).
    "dedup_cluster_stats" -> { (spark, dir) =>
      val d = docs(spark, dir)
      val comps = Dedup.connectedComponents(
        Dedup.minhashPairs(d, "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold))
      Dedup.clusterStats(d, comps)
    },

    "dedup_cc_apply" -> { (spark, dir) =>
      // the production dedup path end-to-end: near-dup pairs -> connected
      // components -> one representative (min id) kept per cluster
      val d = docs(spark, dir)
      val comps = Dedup.connectedComponents(
        Dedup.minhashPairs(d, "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold))
      Dedup.ccApply(d, comps, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // The selection policy on top of CC clusters: keep the LONGEST doc
    // per near-dup cluster (ties -> min id) instead of the min id —
    // what a quality-aware dedup pipeline actually ships.
    "dedup_keep_best" -> { (spark, dir) =>
      val d = docs(spark, dir)
      val comps = Dedup.connectedComponents(
        Dedup.minhashPairs(d, "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold))
      Dedup.keepBest(d, comps, "doc_id", "n_chars")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "dedup_simhash_fp" -> { (spark, dir) =>
      Dedup.simhashFingerprints(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    "dedup_simhash_pairs" -> { (spark, dir) =>
      // maxBucket low enough that the oversized-bucket re-banding path is
      // exercised at sf0.01 (dup-cluster buckets exceed 64 there).
      Dedup.simhashPairs(docs(spark, dir), "doc_id", "text",
          maxHamming = 3, maxBucket = SimhashMaxBucket)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_ngram_jaccard" -> { (spark, dir) =>
      // maxBlock low enough that the in-block LSH path is exercised at
      // sf0.01 (the largest (lang, lenb) block holds 27 docs there).
      Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
          blockCols = Seq("lang"), NgramN, NgramBucket, NgramThreshold,
          NgramSampleMod, NgramMaxBlock, NgramLshBands)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_edit" -> { (spark, dir) =>
      Dedup.editDistancePairs(docs(spark, dir), "doc_id", "text",
          blockCols = Seq("lang"), maxDist = EditMaxDist,
          bucketWidth = EditBucket, maxBlock = EditMaxBlock)
        .orderBy("id_a", "id_b")
    },

    // Exact-recall prefix-filtered Jaccard over the same winnowed shingle
    // sets as dedup_ngram_jaccard — no blocking, no LSH, every pair >= t.
    "dedup_prefix" -> { (spark, dir) =>
      Dedup.prefixJaccardPairs(docs(spark, dir), "doc_id", "text",
          NgramN, NgramSampleMod, NgramThreshold)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_jarowinkler" -> { (spark, dir) =>
      Dedup.jaroWinklerPairs(docs(spark, dir), "doc_id", "text",
          blockCols = Seq("lang"), minSim = JwMinSim,
          bucketWidth = EditBucket, maxBlock = EditMaxBlock)
        .orderBy("id_a", "id_b")
    },

    "dedup_embedding" -> { (spark, dir) =>
      // maxBucket low enough that the oversized-bucket key extension is
      // exercised at sf0.01 (largest (band,bsig) bucket holds 31 vectors).
      Similarity.nearDupPairs(embs(spark, dir), EmbedDupThreshold,
          maxBucket = EmbedMaxBucket)
        .orderBy("vec_a", "vec_b")
    },

    "dedup_semantic" -> { (spark, dir) =>
      // cluster-scoped dedup over the same corpus the LSH pass covers:
      // one Lloyd round on the fixed-point path, then intra-cell cosine
      // pruning — the oracle replays centroids, cells and drops exactly.
      Similarity.semanticDedup(embs(spark, dir), SemDedupThreshold,
          CentroidEvery, kmeansIters = 1)
        .orderBy("vec_id")
    },

    "similarity_topk" -> { (spark, dir) =>
      val e = embs(spark, dir)
      Similarity.bruteTopK(e, e.where(col("vec_id") < NQueryVecs), TopK)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    "similarity_ann" -> { (spark, dir) =>
      val e = embs(spark, dir)
      Similarity.annTopK(e, e.where(col("vec_id") < NQueryVecs), TopK)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    // Binary-quantization search: 64 sign bits packed into ONE long per
    // vector, ranked by xor+popcount Hamming distance. The oracle replays
    // the sign bits from the raw floats and counts disagreeing planes —
    // the packed representation is invisible to the contract.
    "similarity_hamming" -> { (spark, dir) =>
      val e = embs(spark, dir)
      Similarity.hammingTopK(e, e.where(col("vec_id") < NQueryVecs), TopK)
        .select("q_id", "n_id", "hamming", "rank")
        .orderBy("q_id", "rank")
    },

    // Corpus-wide Hamming pairs via pigeonhole banding. The oracle is the
    // BRUTE all-pairs filter — so this gate proves the banding's
    // recall-completeness on real data, not just that both engines agree.
    "similarity_hamming_pairs" -> { (spark, dir) =>
      Similarity.hammingNeighbors(embs(spark, dir), HammingRadius)
        .orderBy("vec_a", "vec_b")
    },

    "similarity_ivf" -> { (spark, dir) =>
      // exactReplay: the DuckDB oracle replays the centroid means
      // bit-for-bit, which needs the sequential-sum update (see ivfTopK).
      val e = embs(spark, dir)
      Similarity.ivfTopK(e, e.where(col("vec_id") < NQueryVecs), TopK,
          CentroidEvery, KmeansIters, exactReplay = true)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    "similarity_ivf_scalable" -> { (spark, dir) =>
      // The DEFAULT (production) centroid path: per-dimension FIXED-POINT
      // sum — no per-cell megarow, and (since round 6) order-insensitive
      // exact long arithmetic, so this entry now has a full SQL oracle
      // replaying the same quantized means.
      val e = embs(spark, dir)
      Similarity.ivfTopK(e, e.where(col("vec_id") < NQueryVecs), TopK,
          CentroidEvery, KmeansIters)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    "similarity_ivf_probes" -> { (spark, dir) =>
      // Multi-probe recall knob: each query scans its 2 nearest cells
      // (fixed-point centroid path, same oracle arithmetic).
      val e = embs(spark, dir)
      Similarity.ivfTopK(e, e.where(col("vec_id") < NQueryVecs), TopK,
          CentroidEvery, KmeansIters, probes = IvfProbes)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    // The persisted vector index end-to-end: train + write the
    // cell-partitioned store, serve the same multi-probe queries reading
    // only probed cells' directories (dynamic partition pruning) — must
    // equal the in-memory multi-probe path bit-for-bit.
    "similarity_ivf_index" -> { (spark, dir) =>
      val e = embs(spark, dir)
      val tmp = scratchDir("graft_ivfidx")
      Similarity.ivfWrite(e, tmp.toString, CentroidEvery, KmeansIters,
        options = Map("confirm.truncate" -> "true"))
      Similarity.ivfQueryIndex(spark, tmp.toString,
          e.where(col("vec_id") < NQueryVecs), TopK, probes = IvfProbes)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    "hard_negatives" -> { (spark, dir) =>
      // contrastive-training mining: most-similar corpus vectors whose
      // label DIFFERS from the anchor's
      val e = embs(spark, dir)
      Similarity.hardNegatives(e, e.where(col("vec_id") < NQueryVecs), TopK)
        .orderBy("q_id", "rank")
    },

    "ann_recall" -> { (spark, dir) =>
      // recall@k of the sign-LSH path vs brute-force ground truth — the
      // eval every b/r/nBits retune must re-run
      val e = embs(spark, dir)
      Similarity.annRecall(e, e.where(col("vec_id") < NQueryVecs), TopK)
        .orderBy("q_id")
    },

    "bitext_mine" -> { (spark, dir) =>
      // margin-criterion bitext mining: the even/odd vec_id halves stand
      // in for the two language sides
      val e = embs(spark, dir)
      Similarity.bitextMine(
          e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1),
          minMargin = BitextMinMargin)
        .orderBy("q_id")
    },

    "similarity_pq" -> { (spark, dir) =>
      // product quantization + asymmetric-distance search: 8 subspaces
      // of 8 dims, deterministic seeds, one Lloyd round, ADC top-k over
      // the codes table — the 10-100x embedding-compression search path
      val e = embs(spark, dir)
      val cb = Pq.train(e, subspaces = 8, subDim = 8,
        centroidEvery = PqCentroidEvery, iters = 1)
      Pq.adcTopK(Pq.encode(e, cb), cb,
          e.where(col("vec_id") < NQueryVecs), TopK)
        .orderBy("q_id", "rank")
    },

    "similarity_ivfpq" -> { (spark, dir) =>
      // the production IVF-PQ configuration: coarse cells prune WHERE to
      // look (same training as the ivf gates), PQ codes compress WHAT is
      // compared — candidates pay subspaces fixed-point lookups each
      val e = embs(spark, dir)
      Pq.ivfAdcTopK(e, e.where(col("vec_id") < NQueryVecs), TopK,
          cellEvery = CentroidEvery, cellIters = KmeansIters,
          probes = IvfProbes, pqCentroidEvery = PqCentroidEvery)
        .orderBy("q_id", "rank")
    },

    "pq_recall" -> { (spark, dir) =>
      // recall@k of the ADC path vs exact full-width L2 — the eval any
      // subspaces/K retune must re-run (the ann_recall convention)
      val e = embs(spark, dir)
      Pq.adcRecall(e, e.where(col("vec_id") < NQueryVecs), TopK,
          centroidEvery = PqCentroidEvery)
        .orderBy("q_id")
    },

    // OPQ-P (Ge et al. 2013): PCA rotation + eigenvalue allocation before
    // PQ training. The recall gauge vs the SAME raw-L2 ground truth as
    // pq_recall. HASH-GATED via trained-literal replay: the power-
    // iteration rotation itself is not SQL-expressible, so the query
    // stashes the trained dim×dim matrix and the oracle (dumped AFTER
    // the queries run — the Verify ordering contract) materializes it as
    // plan-time CAST('…' AS DOUBLE) literals; DuckDB then replays
    // rotate → train → encode → ADC → recall-vs-raw-truth end to end.
    // Orthonormality stays independently hash-gated by pq_opq_rotation.
    "pq_recall_opq" -> { (spark, dir) =>
      val e = embs(spark, dir)
      val rot = Pq.opqRotation(e)
      OpqTrained.rotation = Some(rot)
      Pq.adcRecallOpqWith(e, e.where(col("vec_id") < NQueryVecs), rot,
          TopK, centroidEvery = PqCentroidEvery)
        .orderBy("q_id")
    },

    // Hash-gated witness that the TRAINED OPQ rotation is orthonormal:
    // R·Rᵀ at 4dp must be the identity (power iteration + Gram–Schmidt
    // deflation + eigenvalue-allocation permutation preserve
    // orthonormality; 6dp loading rounding bounds the off-diagonal error
    // well under the 4dp grid). A broken deflation or a duplicated/
    // dropped row in the allocation would break the hash.
    "pq_opq_rotation" -> { (spark, dir) =>
      val rot = Pq.opqRotation(embs(spark, dir))
      val dim = rot.size
      import spark.implicits._
      (for (i <- 0 until dim; j <- 0 until dim) yield {
        var s = 0.0
        var d = 0
        while (d < dim) { s += rot(i)(d) * rot(j)(d); d += 1 }
        (i.toLong, j.toLong,
          BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble + 0.0)
      }).toDF("i", "j", "v").orderBy("i", "j")
    },

    "bitext_mine_scalable" -> { (spark, dir) =>
      // the two-large-sides margin miner: sign-LSH candidates on both
      // parity halves, margin over candidates only — the scale path the
      // BNL bitext_mine cannot take. The oracle replays the banding, so
      // the gate checks the LSH path's own arithmetic (the bloom_join /
      // dedup_embedding convention for guarded scale paths).
      val e = embs(spark, dir)
      Similarity.bitextMineScalable(
          e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1),
          minMargin = BitextMinMargin,
          bands = BitextBands, r = BitextR, maxBucket = BitextMaxBucket)
        .orderBy("q_id")
    },

    "dedup_containment" -> { (spark, dir) =>
      // asymmetric |A∩B|/|A| over the MinHash-LSH candidates: catches
      // doc-contains-doc duplication Jaccard dilutes away
      Dedup.containmentPairs(docs(spark, dir), "doc_id", "text",
          MinhashK, MinhashB, MinhashR, threshold = ContainThreshold)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_weighted" -> { (spark, dir) =>
      // bag-of-words near-dup: tf-weighted Jaccard via the integer
      // multiset expansion — catches reshuffled/re-templated docs whose
      // shingle Jaccard collapses but term-frequency profile survives
      Dedup.weightedJaccardPairs(docs(spark, dir), "doc_id", "text",
          MinhashK, MinhashB, MinhashR, threshold = WeightedThreshold,
          maxTf = WeightedMaxTf)
        .orderBy("doc_a", "doc_b")
    },

    "dedup_containment_skew" -> { (spark, dir) =>
      // LSH-Ensemble stratified banding over a size-SKEWED fixture
      // (documents plus 5-word prefix docs of every 40th long document):
      // the prefix-in-article pairs have containment ~1 at Jaccard ~0.08,
      // below the Jaccard-tuned banding's S-curve — the stratified ladder
      // recalls them (DedupSpec pins that the plain path misses them)
      Dedup.containmentPairsStratified(skewedDocs(docs(spark, dir)),
          "doc_id", "text", StratK, threshold = ContainThreshold)
        .orderBy("doc_a", "doc_b")
    },

    "bpe_pair_counts" -> { (spark, dir) =>
      // the BPE tokenizer-training inner loop: adjacent char-pair counts
      // over the distinct-word table, weighted by word frequency
      TextAnalysis.bpePairCounts(docs(spark, dir), "text", BpeMinCount)
        .orderBy("pair")
    },

    "word_pmi" -> { (spark, dir) =>
      // word2vec-style phrase mining: PMI of adjacent word pairs above
      // the noise floor
      TextAnalysis.pmiCollocations(docs(spark, dir), "text", PmiMinPair)
        .orderBy("w1", "w2")
    },

    "text_knn" -> { (spark, dir) =>
      // text-side k-NN: top-k Jaccard neighbors per doc over LSH
      // candidates — the annTopK mirror for the documents table
      Dedup.knnJaccard(docs(spark, dir), "doc_id", "text",
          k = TopK, minhashK = MinhashK, b = MinhashB, r = MinhashR)
        .orderBy("q_id", "rank")
    },

    "text_entropy" -> { (spark, dir) =>
      // per-doc code-point entropy (micro-nat contract) — one codegen'd
      // projection, no per-character explode
      TextAnalysis.charEntropy(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Media near-dup: perceptual average-hash over payload bytes, banded
    // Hamming join — recall-complete at maxHamming, so the oracle is the
    // brute all-pairs filter.
    "multimodal_phash" -> { (spark, dir) =>
      val mm = Multimodal.attach(docs(spark, dir), "doc_id", "text",
        Seq("lang"))
      Multimodal.phashPairs(mm, maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    // Vector-store ingest path: build the index, append a later batch
    // under the FROZEN centroids (no retrain — that would be a rebuild),
    // serve the union. The oracle replays training on the original
    // corpus and assignment/scoring over the union.
    "similarity_ivf_append" -> { (spark, dir) =>
      val e = embs(spark, dir)
      val tmp = scratchDir("graft_ivfappend")
      // append semantics make reuse stateful: start from a clean dir
      // every invocation (bench reps would otherwise stack batches)
      rmrf(tmp)
      Similarity.ivfWrite(e, tmp.toString, CentroidEvery, KmeansIters,
        options = Map("confirm.truncate" -> "true"))
      Similarity.ivfAppend(spark, tmp.toString,
        e.select((col("vec_id") + AppendOffset).as("vec_id"),
          col("embedding")))
      Similarity.ivfQueryIndex(spark, tmp.toString,
          e.where(col("vec_id") < NQueryVecs), TopK, probes = IvfProbes)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    // TRUE streaming index maintenance, batch-verified (round 18): the
    // append batch streams in as three micro-batches, each appended
    // into the persisted IVF cell store under the frozen centroids via
    // the foreachBatch sink; the served union must replay EXACTLY as
    // the one-shot batch append (appends are row-wise under fixed
    // centroids, so the end state is split-invariant) — the oracle is
    // similarity_ivf_append's verbatim.
    "streaming_ivf_append" -> { (spark, dir) =>
      val e = embs(spark, dir)
      val tmp = scratchDir("graft_sivfappend")
      rmrf(tmp)
      val idx = tmp.resolve("idx").toString
      Similarity.ivfWrite(e, idx, CentroidEvery, KmeansIters,
        options = Map("confirm.truncate" -> "true"))
      val in = tmp.resolve("in")
      e.select((col("vec_id") + AppendOffset).as("vec_id"),
          col("embedding"))
        .repartition(3).write.parquet(in.toString)
      val stream = spark.readStream
        .schema(spark.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      val q = graft.streaming.StreamingSink.foreachBatchIvfAppend(
        stream, idx, checkpointDir = s"$tmp/_checkpoint")
      try {
        q.processAllAvailable()
        val batches = q.recentProgress.count(_.numInputRows > 0)
        require(batches >= 3,
          s"expected >= 3 data micro-batches, saw $batches — the " +
            "incremental index-maintenance path was not exercised")
      } finally {
        q.stop()
        rmrf(in); rmrf(tmp.resolve("_checkpoint"))
      }
      Similarity.ivfQueryIndex(spark, idx,
          e.where(col("vec_id") < NQueryVecs), TopK, probes = IvfProbes)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    // The streaming sink reached from PARSED CONFIG (round 19 — closes
    // the declarative-parity exception): StreamingExtract registers the
    // file-source stream, StreamingLoad drains it through the
    // foreachBatch IVF-append path; the served index must equal the
    // one-shot batch append (similarity_ivf_append oracle verbatim).
    "stage_streaming_chain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val e = embs(spark, dir)
      val tmp = scratchDir("graft_stchain")
      rmrf(tmp)
      val idx = tmp.resolve("idx").toString
      Similarity.ivfWrite(e, idx, CentroidEvery, KmeansIters,
        options = Map("confirm.truncate" -> "true"))
      val in = tmp.resolve("in")
      e.select((col("vec_id") + AppendOffset).as("vec_id"),
          col("embedding"))
        .repartition(3).write.parquet(in.toString)
      val conf = s"""
        stages = [
          { type = StreamingExtract, name = src
            inputDir = "${in.toString}"
            maxFilesPerTrigger = 1
            outputView = st19s_in }
          { type = StreamingLoad, name = sink, method = ivf_append
            inputView = st19s_in, outputView = st19s_done
            checkpointDir = "${tmp.resolve("_checkpoint")}"
            indexDir = "$idx" }
        ]"""
      val summary = graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) => graft.pipeline.Runner.run(p).get
      }
      val nBatches = summary.collect().head.getAs[Long]("n_batches")
      require(nBatches >= 3,
        s"expected >= 3 data micro-batches through the declared " +
          s"stream, saw $nBatches")
      rmrf(in); rmrf(tmp.resolve("_checkpoint"))
      Similarity.ivfQueryIndex(spark, idx,
          e.where(col("vec_id") < NQueryVecs), TopK, probes = IvfProbes)
        .select("q_id", "n_id", "cosine", "rank")
        .orderBy("q_id", "rank")
    },

    // Association mining: support + lift of supplier pairs co-occurring
    // within an order — the frequent-pair stage of Apriori, lift as the
    // symmetric interestingness score.
    "basket_pairs" -> { (spark, dir) =>
      Behavior.basketPairs(spark.read.parquet(s"$dir/lineitem.parquet"),
          "l_orderkey", "l_suppkey", BasketMinSupport)
        .orderBy("item_a", "item_b")
    },

    "sketch_quantiles" -> { (spark, dir) =>
      // 20% deterministic hash sample of lineitem, exact per-flag
      // percentiles of the sample — the reproducible approx-quantile.
      graft.functions.Sketches.sampledQuantiles(
          spark.read.parquet(s"$dir/lineitem.parquet"),
          col("l_orderkey") * 10000 + col("l_linenumber"),
          col("l_extendedprice"),
          Seq("l_returnflag"), Seq(0.5, 0.95), rate = 0.2)
        .orderBy("l_returnflag")
    },

    // The mergeable-quantile contract IN the gate: the deterministic
    // hash-sample is a pure row function, so per-shard samples union to
    // EXACTLY the whole-corpus sample — three shards, merged, hashed
    // against the same whole-corpus oracle as sketch_quantiles.
    "sketch_quantile_shards" -> { (spark, dir) =>
      import graft.functions.Sketches
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val key = col("l_orderkey") * 10000 + col("l_linenumber")
      val merged = (0 until 3).map(s =>
          Sketches.quantileSample(li.where(col("l_orderkey") % 3 === s),
            key, rate = 0.2))
        .reduce(_ union _)
      Sketches.quantilesOfSample(merged, col("l_extendedprice"),
          Seq("l_returnflag"), Seq(0.5, 0.95))
        .orderBy("l_returnflag")
    },

    "sketch_kmv" -> { (spark, dir) =>
      graft.functions.Sketches.kmvDistinct(
        spark.read.parquet(s"$dir/lineitem.parquet"), col("l_partkey"), k = 256)
    },

    "sample_deterministic" -> { (spark, dir) =>
      Sampling.deterministic(docs(spark, dir), "doc_id", SampleRate)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // Epoch shuffle: the whole corpus dealt into a reproducible order by
    // (h32(id ++ salt), id) — one range-sort, positions from partition
    // offsets, no global window. The oracle IS the one-partition window
    // form the operator deliberately avoids; they must agree exactly.
    "shuffle_deterministic" -> { (spark, dir) =>
      Sampling.deterministicShuffle(docs(spark, dir), "doc_id",
          salt = ShuffleSalt)
        .orderBy("pos")
    },

    "sample_stratified" -> { (spark, dir) =>
      Sampling.stratified(docs(spark, dir), "lang", "doc_id",
          StratRates, StratDefault)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "shard_by_budget" -> { (spark, dir) =>
      Sampling.shardByBudget(docs(spark, dir), "doc_id", "n_chars",
          ShardBudget)
        .orderBy("doc_id")
    },

    "pack_sequences" -> { (spark, dir) =>
      Sampling.packSequences(docs(spark, dir), "doc_id", "n_chars",
          PackBudget, PackBuckets, PackSalt)
        .orderBy("doc_id")
    },

    "stratum_token_cap" -> { (spark, dir) =>
      Sampling.perStratumTokenCap(docs(spark, dir), "source", "doc_id",
          "n_chars", CapBudget, CapSalt)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // The composed pre-training shape: split long documents into
    // non-overlapping token chunks, then next-fit the CHUNKS into
    // fixed-budget training sequences — chunk |> pack as one gated
    // chain (overlap must be 0 here: packing may not duplicate text).
    "chunk_pack" -> { (spark, dir) =>
      val pieces = TextAnalysis.chunk(docs(spark, dir), "doc_id", "text",
          ChunkSize, overlap = 0)
        .select((col("doc_id") * 1024 + col("chunk_id")).as("piece_id"),
          col("n_chunk_tokens"))
      Sampling.packSequences(pieces, "piece_id", "n_chunk_tokens",
          budget = ChunkPackBudget, PackBuckets, PackSalt)
        .orderBy("piece_id")
    },

    "score_percentile" -> { (spark, dir) =>
      Profile.percentileRank(docs(spark, dir), "n_chars", "doc_id",
          Seq("lang"))
        .select("doc_id", "lang", "n_chars", "pct_rank")
        .orderBy("doc_id")
    },

    // Incremental-sketch contract for KMV, the sketch_hll_shards
    // analogue: three disjoint shards sketched independently, merged,
    // estimated — must equal the whole-corpus estimate EXACTLY (the k
    // smallest of the union of per-shard k-smallest IS the global
    // k-smallest when shards partition the data).
    "sketch_kmv_shards" -> { (spark, dir) =>
      import graft.functions.Sketches
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val shards = (0 until 3).map(s =>
        Sketches.kmvSketch(li.where(col("l_orderkey") % 3 === s),
          col("l_partkey"), k = 256))
      Sketches.kmvMergeEstimate(shards, k = 256)
    },

    "mixture_rebalance" -> { (spark, dir) =>
      Sampling.rebalance(docs(spark, dir), "lang", "doc_id", "n_chars",
          RebalanceTargets)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "mixture_temperature" -> { (spark, dir) =>
      Sampling.temperatureRebalance(docs(spark, dir), "lang", "doc_id",
          "n_chars", TempAlpha)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "sample_top_fraction" -> { (spark, dir) =>
      Sampling.topFraction(docs(spark, dir), "n_chars", "doc_id", TopFrac)
        .orderBy("doc_id")
    },

    "text_quality" -> { (spark, dir) =>
      TextAnalysis.quality(docs(spark, dir), "doc_id", "text").orderBy("doc_id")
    },

    "token_stats" -> { (spark, dir) =>
      TextAnalysis.tokenCounts(docs(spark, dir), "doc_id", "text").orderBy("doc_id")
    },

    // Vocabulary-richness quality signals: TTR + hapax ratio per doc.
    "text_ttr" -> { (spark, dir) =>
      TextAnalysis.lexicalDiversity(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Chao1 vocabulary-richness estimate: how much vocabulary another
    // crawl of the same source would surface.
    "text_chao1" -> { (spark, dir) =>
      TextAnalysis.chao1(docs(spark, dir), "text")
    },

    "lang_dist" -> { (spark, dir) =>
      TextAnalysis.langDist(docs(spark, dir), "lang", "text").orderBy("lang")
    },

    "lang_id" -> { (spark, dir) =>
      TextAnalysis.langId(docs(spark, dir), "doc_id", "text", "lang")
        .orderBy("doc_id")
    },

    // Per-doc language purity: 16-word windows language-ID'd, unanimity
    // reported (code-switch / wrong-label screen).
    "lang_purity" -> { (spark, dir) =>
      TextAnalysis.langPurity(docs(spark, dir), "doc_id", "text",
          chunkSize = 16)
        .orderBy("doc_id")
    },

    // Per-language top-5 terms (grouped heavy hitters).
    "heavy_hitters_by_lang" -> { (spark, dir) =>
      TextAnalysis.heavyHittersGrouped(docs(spark, dir), "lang", "text",
          k = 5)
        .orderBy("group", "rank")
    },

    // Top length-3 event-type paths across users.
    "events_paths" -> { (spark, dir) =>
      Behavior.topPaths(events(spark, dir), "ts", "user_id",
          "event_type", "event_id", k = 10)
    },

    // Language-ID confusion matrix: declared label vs heuristic
    // prediction — the eval every classifier-backed curation gate needs.
    "lang_confusion" -> { (spark, dir) =>
      TextAnalysis.langId(docs(spark, dir), "doc_id", "text", "lang")
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },

    // Incremental near-dup: the new batch (every 10th doc + exact copies
    // of the % 7 docs under shifted ids) pairs against the seen corpus
    // only — never seen x seen.
    "dedup_minhash_incr" -> { (spark, dir) =>
      val d = docs(spark, dir)
      val seen = d.where(col("doc_id") % 10 =!= 0)
      val nw = d.where(col("doc_id") % 10 === 0)
        .unionAll(
          d.where(col("doc_id") % 7 === 0 && col("doc_id") % 10 =!= 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.minhashIncrementalPairs(nw, seen, "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold)
        .orderBy("new_id", "seen_id")
    },

    "text_fingerprint" -> { (spark, dir) =>
      TextAnalysis.fingerprints(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    "multimodal_meta" -> { (spark, dir) =>
      implicit val s: SparkSession = spark
      val mm = Multimodal.attach(docs(spark, dir), "doc_id", "text",
        metaCols = Seq("lang", "n_chars"))
      val meta = Multimodal.payloadMeta(mm)
      val decoded = Multimodal.decodeAll(mm, Multimodal.MediaDecoder.deterministicFake)
        .toDF()
      meta.join(decoded.select("doc_id", "width", "height", "n_frames", "features"), "doc_id")
        .select(col("doc_id"), col("byte_len"), col("digest"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("features").getItem(0).cast("double").as("f0"),
          col("features").getItem(7).cast("double").as("f7"))
        .orderBy("doc_id")
    },

    "multimodal_frames" -> { (spark, dir) =>
      implicit val s: SparkSession = spark
      val mm = Multimodal.attach(docs(spark, dir), "doc_id", "text",
        metaCols = Seq("lang"))
      val decoded = Multimodal
        .decodeAll(mm, Multimodal.MediaDecoder.deterministicFake).toDF()
      val frames = Multimodal.frameSample(decoded, everyN = 2)
      val sizes = Multimodal.resizeMeta(decoded, maxDim = 128)
      frames.join(sizes, "doc_id")
        .select(col("doc_id"), col("frame_idx"), col("frame_hash"),
          col("resized_w"), col("resized_h"))
        .orderBy("doc_id", "frame_idx")
    },

    "events_hourly" -> { (spark, dir) =>
      StreamingOps.hourlyEventStats(events(spark, dir),
          "ts", "event_type", "value", watermark = None)
        .orderBy("hour_start", "event_type")
    },

    "events_sessionize" -> { (spark, dir) =>
      // Sessionization: a new session starts after a >30min silence per
      // user (lag + cumulative-sum windows; the batch mirror of
      // session_window streaming). Gap math on epoch millis (exact longs).
      events(spark, dir).createOrReplaceTempView("q_sess_events")
      spark.sql("""
        WITH gaps AS (
          SELECT user_id, unix_millis(ts) AS ms,
            lag(unix_millis(ts)) OVER (
              PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
          FROM q_sess_events)
        SELECT user_id,
          CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
          COUNT(*) AS n_events
        FROM gaps GROUP BY user_id ORDER BY user_id""")
    },

    "asof_join" -> { (spark, dir) =>
      // Each click matched to the user's most recent purchase at or before
      // it. The right side is pre-aggregated to one row per (user_id, ts)
      // (max_by event_id picks the later-logged purchase on a tie) so the
      // as-of winner is engine-portable.
      val ev = events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
      val purch = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"))
      Joins.asof(clicks, purch, Seq("user_id"), "ts", "p_ts")
        .orderBy("event_id")
    },

    "asof_join_nearest" -> { (spark, dir) =>
      // Each click matched to the user's CLOSEST purchase in either
      // direction within 2 hours (ties resolve backward — the pandas
      // merge_asof 'nearest' convention); same pre-aggregated right side
      // as asof_join.
      val ev = events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
      val purch = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"))
      Joins.asofNearest(clicks, purch, Seq("user_id"), "ts", "p_ts",
          toleranceMicros = 7200L * 1000000L)
        .orderBy("event_id")
    },

    "range_join" -> { (spark, dir) =>
      // Attribution: every click inside a 30-minute window after any
      // purchase by the same user. Inner join, possibly many windows per
      // click — the bucketed-range plan keyed on (user_id, time bucket).
      val ev = events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"),
          col("event_id").as("p_id"))
      Joins.range(clicks, "ts", windows, "w_start", "w_end",
          Seq("user_id"), bucketSeconds = 1800)
        .orderBy("event_id", "p_id")
    },

    "text_chunk" -> { (spark, dir) =>
      TextAnalysis.chunk(docs(spark, dir), "doc_id", "text",
          ChunkSize, ChunkOverlap)
        .orderBy("doc_id", "chunk_id")
    },

    "text_normalize" -> { (spark, dir) =>
      TextAnalysis.normalize(docs(spark, dir), "text")
        .select(col("doc_id"), col("text").as("norm_text"),
          length(col("text")).cast("long").as("norm_chars"))
        .orderBy("doc_id")
    },

    "salted_join" -> { (spark, dir) =>
      // Result must be IDENTICAL to the plain join — salting only
      // re-shapes the exchange; the oracle runs the unsalted form.
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Joins.salted(li, ord, Seq("l_orderkey"), saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    "triangle_count" -> { (spark, dir) =>
      // maxGroup = 10 drops the 41 largest orders at sf0.01 — the
      // degenerate-group guard is exercised, and the oracle replays the
      // same drop.
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.triangleCounts(Graph.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup))
        .orderBy("node")
    },

    "graph_lpa" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.labelPropagation(Graph.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup),
          iters = LpaIters)
        .orderBy("node")
    },

    "graph_kcore" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.kCore(Graph.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup),
          k = KcoreK, rounds = KcoreRounds)
        .orderBy("node")
    },

    // k-truss on the same co-occurrence graph: EDGE-level cohesion —
    // an edge survives only while it closes >= k-2 triangles among
    // survivors, the stronger community filter beside kcore's
    // node-degree peel (a pairwise-only hub passes kcore, not this).
    "graph_ktruss" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.kTruss(Graph.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup),
          k = KtrussK, rounds = KtrussRounds)
        .orderBy("a", "b")
    },

    // Modularity of the communities LPA just found — the composition a
    // curation pipeline runs before trusting graph clusters: per-community
    // exact intra-edge/degree tallies and the 6dp Q contribution.
    "graph_modularity" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val und = Graph.coOccurrenceEdges(
        li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup)
      val asg = Graph.labelPropagation(und, iters = LpaIters)
        .select(col("node"), col("label").as("community"))
      Graph.modularity(und, asg).orderBy("community")
    },

    "bloom_join" -> { (spark, dir) =>
      // The bloom pre-filter only prunes shuffle input; the trailing
      // exact semi join makes the result identical to a plain semi
      // join — which is exactly what the oracle runs.
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val hot = spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_totalprice") > BloomPriceMin)
      Joins.bloomSemi(li, hot, "l_orderkey", "o_orderkey",
          mBits = BloomBits, k = BloomK)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    "sample_per_stratum" -> { (spark, dir) =>
      Sampling.perStratumHead(docs(spark, dir), "lang", "doc_id", PerStratumK)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "quality_filter" -> { (spark, dir) =>
      TextAnalysis.qualityFilter(docs(spark, dir), "text",
          minChars = QfMinChars, maxChars = QfMaxChars, minWords = QfMinWords,
          minTtr = QfMinTtr, minStopwordRatio = QfMinStopword,
          maxPunctRatio = QfMaxPunct)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    "asof_join_forward" -> { (spark, dir) =>
      // Forward direction: each click matched to the user's NEXT purchase
      // at or after it (same pre-aggregated right side as asof_join).
      val ev = events(spark, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
      val purch = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(max_by(col("value"), col("event_id")).as("p_value"))
      Joins.asof(clicks, purch, Seq("user_id"), "ts", "p_ts", forward = true)
        .orderBy("event_id")
    },

    "contamination_check" -> { (spark, dir) =>
      // Stand-in eval suite: every 50th document; the corpus is the full
      // documents table, self-matches excluded by id.
      val d = docs(spark, dir)
      Contamination.check(d, d.where(col("doc_id") % 50 === 0),
          "doc_id", "text")
        .orderBy("eval_id")
    },

    "text_novelty" -> { (spark, dir) =>
      // novelty of the corpus against a reference slice (every 7th doc
      // stands in for yesterday's corpus); reference members excluded
      // from the scored side so their trivial zeros don't dominate
      val d = docs(spark, dir)
      Contamination.novelty(d.where(col("doc_id") % 7 =!= 0),
          d.where(col("doc_id") % 7 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    "text_novelty_bloom" -> { (spark, dir) =>
      // the oversized-reference path: definitely-novel grams skip the
      // anti join via the bloom screen; result is bit-equal to
      // text_novelty (asserted in ContaminationSpec)
      val d = docs(spark, dir)
      Contamination.noveltyBloom(d.where(col("doc_id") % 7 =!= 0),
          d.where(col("doc_id") % 7 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    "text_novelty_bloom_big" -> { (spark, dir) =>
      // the DISTRIBUTED bloom variant: reference grams fold to a
      // word-partitioned (w, bits) table in the plan — no driver-held
      // bitmap — and corpus grams probe via a word-key join. Exact by
      // construction (bloom verdicts only route grams), so the oracle is
      // the same plain anti-join replay as text_novelty_bloom.
      val d = docs(spark, dir)
      Contamination.noveltyBloomBig(d.where(col("doc_id") % 7 =!= 0),
          d.where(col("doc_id") % 7 === 0), "doc_id", "text",
          mBits = 1L << 20)
        .orderBy("doc_id")
    },

    "streaming_foreachbatch" -> { (spark, dir) =>
      // TRUE streaming path, batch-verified: file-source readStream over
      // the events table -> watermarked hourly aggregation -> Complete-mode
      // foreachBatch delivery through the batch connector (Overwrite +
      // truncate latch) -> read the sink table back. Complete mode holds
      // all windows, so the final sink state equals the batch mirror
      // (events_hourly) and the DuckDB oracle replays it exactly —
      // regardless of how the input is split into micro-batches.
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      // the staged copy + checkpoint are deleted right after the run
      // (below); the per-name scratch dir (incl. the small sink parquet,
      // still being read when this query returns) is reused across
      // invocations and deleted once at JVM exit
      val tmp = scratchDir("graft_stream")
      // The file stream source wants a DIRECTORY to watch; stage the table
      // into one as THREE files (round-robin split), so maxFilesPerTrigger=1
      // drives three real micro-batches through the watermark/state path —
      // not a single batch that never exercises cross-batch state.
      val in = tmp.resolve("in")
      Tables.eventsRaw(spark, dir).repartition(3)
        .write.parquet(in.toString)
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        val stream = scope.spark.readStream
          .schema(Tables.eventsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
          .withColumn("ts", timestamp_micros(col("ts")))
        val agg = StreamingOps.hourlyEventStats(stream, "ts", "event_type",
          "value", watermark = Some("2 hours"))
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          agg, new graft.connect.ParquetConnector(tmp.toString), "hourly",
          checkpointDir = s"$tmp/_checkpoint",
          mode = org.apache.spark.sql.SaveMode.Overwrite,
          options = Map("confirm.truncate" -> "true"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the multi-batch " +
              "state path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/hourly.parquet")
        .orderBy("hour_start", "event_type")
    },

    "events_json" -> { (spark, dir) =>
      events(spark, dir)
        .select((get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod"),
          col("value"))
        .groupBy("k_mod")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("k_mod").asc_nulls_last)
    },

    "text_repetition" -> { (spark, dir) =>
      TextAnalysis.repetition(docs(spark, dir), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },

    "tfidf_topk" -> { (spark, dir) =>
      TextAnalysis.tfidfTopK(docs(spark, dir), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rnk")
    },

    "events_assemble" -> { (spark, dir) =>
      Assemble.threads(events(spark, dir), "user_id",
          Seq(col("ts"), col("event_id")), "event_type", maxTurns = 16)
        .orderBy("user_id")
    },

    "encode_categorical" -> { (spark, dir) =>
      Encoding.encode(docs(spark, dir), Seq("source", "lang"))
        .select("doc_id", "source", "source_id", "lang", "lang_id")
        .orderBy("doc_id")
    },

    "sample_upsample" -> { (spark, dir) =>
      Sampling.upsample(docs(spark, dir), "lang", "doc_id",
          UpWeights, UpDefault)
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")
    },

    "sample_weighted" -> { (spark, dir) =>
      Sampling.weightedTopK(docs(spark, dir), "doc_id", "n_chars", WtopK)
        .select("doc_id", "n_chars", "priority")
        .orderBy("doc_id")
    },

    // DSIR importance scores: target = English docs, source = the whole
    // corpus; hashed-unigram bucket log-ratios quantized to fixed-point
    // micro-units so every doc score is an exact long sum.
    "sample_importance" -> { (spark, dir) =>
      Sampling.importanceWeights(docs(spark, dir), "doc_id", "text",
          col("lang") === "en", DsirBuckets)
        .orderBy("doc_id")
    },

    // Pareto-front selection: users undominated on (event count, best
    // purchase value) - the multi-objective data-selection primitive.
    "select_pareto" -> { (spark, dir) =>
      val u = events(spark, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      Sampling.paretoFront(u, "n_events", "max_value")
        .orderBy("user_id")
    },

    // Model-based quality filter: hashed-unigram Naive Bayes trained on
    // the trusted-source seed set, every doc scored by exact fixed-point
    // log-odds (the GPT-3 "looks like the curated corpus" classifier).
    "quality_classifier" -> { (spark, dir) =>
      Classify.naiveBayes(docs(spark, dir), "doc_id", "text",
          col("source").isin(NbTrusted: _*), NbBuckets)
        .orderBy("doc_id")
    },

    // Threshold-free separation readout of the quality classifier
    // against its own training labels: exact Mann-Whitney AUC.
    "classifier_auc" -> { (spark, dir) =>
      Classify.rocAuc(nbScored(spark, dir), "pos", "log_odds")
    },

    // Confusion metrics of the classifier's pred at the log-odds-0 cut.
    "classifier_eval" -> { (spark, dir) =>
      Classify.confusion(nbScored(spark, dir), "pos", "pred")
    },

    // Reliability table over 2-nat log-odds bins: is the score
    // calibrated enough that one global threshold is defensible?
    "classify_calibration" -> { (spark, dir) =>
      Classify.reliabilityBins(nbScored(spark, dir), "pos", "log_odds",
          binWidth = 2.0)
        .orderBy("bin")
    },

    // Cohen's kappa between the declared lang column and the langId
    // heuristic - chance-corrected label agreement.
    "label_agreement" -> { (spark, dir) =>
      Classify.agreement(
        TextAnalysis.langId(docs(spark, dir), "doc_id", "text", "lang"),
        "lang", "predicted")
    },

    // Krippendorff's alpha across THREE raters — declared lang, the
    // langId heuristic, and the same heuristic abstaining on short
    // docs: multi-rater agreement with missing labels, exactly the
    // setting Cohen's kappa (label_agreement) cannot handle.
    "label_krippendorff" -> { (spark, dir) =>
      val rated = TextAnalysis
        .langId(docs(spark, dir), "doc_id", "text", "lang")
        .join(docs(spark, dir).select(col("doc_id"), col("n_chars")),
          "doc_id")
        .select(col("doc_id"), col("lang").as("r1"),
          col("predicted").as("r2"),
          when(col("n_chars") >= KrippMinChars, col("predicted"))
            .as("r3"))
      Classify.krippendorffAlpha(rated, "doc_id", Seq("r1", "r2", "r3"))
    },

    // Rendezvous (HRW) shard assignment: stable under shard-count growth.
    "shard_rendezvous" -> { (spark, dir) =>
      Sampling.rendezvousShard(docs(spark, dir), "doc_id", RendezvousK)
        .select("doc_id", "shard")
        .orderBy("doc_id")
    },

    // Exploded to (vec_id, d, z) scalar rows: the gate comparator sorts
    // and hashes cell values and cannot order array-typed cells.
    "embed_standardize" -> { (spark, dir) =>
      Similarity.standardize(embs(spark, dir))
        .select(col("vec_id"), posexplode(col("z")).as(Seq("d", "z")))
        .select(col("vec_id"), col("d").cast("long").as("d"), col("z"))
        .orderBy("vec_id", "d")
    },

    // ColBERT-style MaxSim late interaction: multi-vector docs built by
    // folding 4 consecutive embedding rows into one synthetic document,
    // first MaxSimQ docs as queries against the rest.
    "retrieval_maxsim" -> { (spark, dir) =>
      val tok = embs(spark, dir).select(
        (col("vec_id") / lit(MaxSimTokens)).cast("long").as("doc_id"),
        (col("vec_id") % MaxSimTokens).as("q_tok"),
        col("embedding"))
      val q = tok.where(col("doc_id") < MaxSimQ)
        .select(col("doc_id").as("q_id"), col("q_tok"), col("embedding"))
      val c = tok.where(col("doc_id") >= MaxSimQ)
        .select(col("doc_id"), col("embedding"))
      Similarity.maxSimTopK(c, q, MaxSimK).orderBy("q_id", "rank")
    },

    // First-class k-means: every vector's cell + cell size under the
    // same deterministic seeds/rounds the IVF index trains with.
    "embed_kmeans" -> { (spark, dir) =>
      Similarity.kmeans(embs(spark, dir), CentroidEvery, iters = 2)
        .orderBy("vec_id")
    },

    // Coreset selection: each k-means cell's best real representative
    // (max cosine to its final centroid, ties to the min id).
    "embed_medoids" -> { (spark, dir) =>
      Similarity.medoids(embs(spark, dir), CentroidEvery, iters = 2)
        .orderBy("cell")
    },

    // Class prototypes: per-label fixed-point mean vector, long format.
    "embed_centroids" -> { (spark, dir) =>
      Similarity.centroids(embs(spark, dir), "label")
        .orderBy("label", "d")
    },

    // Long-format (vec_id, d, q) for the same scalar-cell reason as
    // embed_standardize.
    "embed_quantize" -> { (spark, dir) =>
      Similarity.quantize(embs(spark, dir))
        .select(col("vec_id"), posexplode(col("q")).as(Seq("d", "q")))
        .select(col("vec_id"), col("d").cast("long").as("d"), col("q"))
        .orderBy("vec_id", "d")
    },

    "split_assign" -> { (spark, dir) =>
      Sampling.splitAssign(docs(spark, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    },

    // Per-shard manifest: counts, token sums, order-insensitive id
    // checksum over the budget shards.
    "shard_manifest" -> { (spark, dir) =>
      Sampling.shardManifest(docs(spark, dir), "doc_id", "n_chars",
          ShardBudget)
        .orderBy("shard")
    },

    // Leakage-safe split: near-dup clusters (MinHash pairs -> CC) split
    // as one unit, so no eval doc has a near-copy in train.
    "split_leakage_safe" -> { (spark, dir) =>
      val d = docs(spark, dir)
      val comps = Dedup.connectedComponents(
        Dedup.minhashPairs(d, "doc_id", "text",
          MinhashK, MinhashB, MinhashR, 3, JaccardThreshold))
      Sampling.leakageSafeSplit(d, "doc_id", comps,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "ls9")
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    },

    "heavy_hitters" -> { (spark, dir) =>
      TextAnalysis.heavyHitters(docs(spark, dir), "text", k = 20)
        .orderBy("term")
    },

    "dedup_passages" -> { (spark, dir) =>
      Dedup.passages(docs(spark, dir), "doc_id", "text", window = 8)
        .select("doc_id", "n_chunks", "n_kept", "clean_text")
        .orderBy("doc_id")
    },

    "text_boilerplate" -> { (spark, dir) =>
      // RefinedWeb-style corpus-frequency boilerplate removal: every
      // occurrence of a cross-document-repeated chunk is deleted
      TextAnalysis.boilerplateChunks(docs(spark, dir), "doc_id", "text",
          window = 8, minDocs = BoilerMinDocs)
        .orderBy("doc_id")
    },

    "curate_pipeline" -> { (spark, dir) =>
      // the curation CHAIN as one declarative plan (the chunk_pack
      // composition precedent): boilerplate removal -> drop emptied
      // docs -> exact dedup on the CLEANED text (duplicates that only
      // differ by boilerplate collapse here — the reason the steps
      // compose in this order) -> per-doc token accounting
      val d = docs(spark, dir)
      val cleaned = TextAnalysis.boilerplateChunks(d, "doc_id", "text",
          window = 8, minDocs = BoilerMinDocs)
        .where(col("n_kept") > 0)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
      Dedup.exact(cleaned.select("doc_id", "lang", "clean_text"),
          keys = Seq("clean_text"), tieBreak = Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          size(split(col("clean_text"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },

    // The FULL pretraining-curation recipe as one declarative plan:
    // quality gate -> exact dedup -> near-dup drop (MinHash apply) ->
    // DSIR importance score -> keep the top half per language. Five
    // gate-proven operators composed; Catalyst sees a single plan and
    // pushes the quality predicates to the scan under everything else.
    "curate_pretrain" -> { (spark, dir) =>
      val d = docs(spark, dir)
      val q = TextAnalysis.qualityFilter(d, "text",
          minChars = QfMinChars, maxChars = QfMaxChars,
          minWords = QfMinWords, minTtr = QfMinTtr,
          minStopwordRatio = QfMinStopword, maxPunctRatio = QfMaxPunct)
        .select("doc_id", "lang", "text")
      val uniq = Dedup.exact(q, keys = Seq("text"), tieBreak = Seq("doc_id"))
      val near = Dedup.minhashApply(uniq, "doc_id", "text",
        MinhashK, MinhashB, MinhashR, 3, JaccardThreshold)
      val scored = Sampling.importanceWeights(near, "doc_id", "text",
          col("lang") === "en", DsirBuckets)
        .join(near.select("doc_id", "lang"), "doc_id")
      Sampling.topFractionPerStratum(scored, "lang", "score", "doc_id",
          CurateKeepFrac)
        .select("doc_id", "lang", "n_tokens", "score", "rank")
        .orderBy("doc_id")
    },

    // The domain quality score CONSUMED by the curation chain (round
    // 17): gate every doc on its domain's shrunk quality rate
    // (Url.domainFilter over the urlDocs fixture, threshold 0.5 —
    // splits 9 of the 20 fixture domains), then the exact-dedup front
    // door — crawl curation's standard domain-block composition.
    "curate_domains" -> { (spark, dir) =>
      val u = urlDocs(spark, dir)
        .withColumn("good", col("n_chars") >= 306)
      val kept = Url.domainFilter(u, "url", "good", minShrunk = 0.5)
      val joined = kept.select("doc_id", "domain", "rate_shrunk")
        .join(docs(spark, dir).select("doc_id", "text", "lang"), "doc_id")
      Dedup.exact(joined, keys = Seq("text"), tieBreak = Seq("doc_id"))
        .select("doc_id", "lang", "domain", "rate_shrunk")
        .orderBy("doc_id")
    },

    // The curate_domains composition reached from PARSED CONFIG
    // (UrlTransform domain_filter -> join -> DedupTransform exact):
    // the declarative twin must hash-match the direct chain, so the
    // oracle is curate_domains' verbatim.
    "stage_url_chain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      urlDocs(spark, dir).createOrReplaceTempView("st17u_urls")
      docs(spark, dir).select("doc_id", "text", "lang")
        .createOrReplaceTempView("st17u_docs")
      val conf = s"""
        stages = [
          { type = SqlTransform, name = flag
            sql = "SELECT doc_id, url, (n_chars >= 306) AS good FROM st17u_urls"
            outputView = st17u_flagged }
          { type = UrlTransform, name = gate, method = domain_filter
            inputView = st17u_flagged, outputView = st17u_kept
            urlCol = url, goodCol = good, minShrunk = 0.5 }
          { type = SqlTransform, name = join
            sql = \"\"\"SELECT k.doc_id, d.text, d.lang, k.domain,
                k.rate_shrunk
              FROM st17u_kept k JOIN st17u_docs d USING (doc_id)\"\"\"
            outputView = st17u_joined }
          { type = DedupTransform, name = dd, method = exact
            inputView = st17u_joined, outputView = st17u_dedup
            keys = [text], idCol = doc_id }
          { type = SqlTransform, name = out
            sql = \"\"\"SELECT doc_id, lang, domain, rate_shrunk
              FROM st17u_dedup ORDER BY doc_id\"\"\"
            outputView = st17u_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) => graft.pipeline.Runner.run(p).get
      }
    },

    // The graph_scc composition reached from PARSED CONFIG (round 18,
    // the stage_stats_chain precedent): SqlTransform builds the same
    // directed supplier->customer / customer->supplier digraph, the
    // GraphTransform scc arm condenses it, and the output must
    // hash-match graph_scc's oracle verbatim.
    "stage_graph_chain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val conf = s"""
        stages = [
          { type = SqlTransform, name = edges
            sql = \"\"\"SELECT concat('s', CAST(l_suppkey AS STRING)) AS src,
                concat('c', CAST(o_custkey AS STRING)) AS dst
              FROM parquet.`$dir/lineitem.parquet` l
              JOIN parquet.`$dir/orders.parquet` o
                ON l.l_orderkey = o.o_orderkey
              WHERE l.l_quantity >= $SccQtyHi
              UNION
              SELECT concat('c', CAST(o_custkey AS STRING)) AS src,
                concat('s', CAST(l_suppkey AS STRING)) AS dst
              FROM parquet.`$dir/lineitem.parquet` l
              JOIN parquet.`$dir/orders.parquet` o
                ON l.l_orderkey = o.o_orderkey
              WHERE l.l_quantity <= $SccQtyLo\"\"\"
            outputView = st18g_edges }
          { type = GraphTransform, name = condense, method = scc
            inputView = st18g_edges, outputView = st18g_scc }
          { type = SqlTransform, name = out
            sql = "SELECT node, scc FROM st18g_scc ORDER BY node"
            outputView = st18g_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) => graft.pipeline.Runner.run(p).get
      }
    },

    // The crawl front door reached from PARSED CONFIG (round 19):
    // synthesize markup -> html_extract -> project, hash-matching the
    // direct-API text_html_extract twin (shared oracle).
    "stage_html_chain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      docs(spark, dir).createOrReplaceTempView("st19h_docs")
      val conf = s"""
        stages = [
          { type = SqlTransform, name = synth
            sql = \"\"\"SELECT doc_id, ($HtmlSynthExpr) AS html
              FROM st19h_docs\"\"\"
            outputView = st19h_html }
          { type = TextAnalysisTransform, name = ext
            analysis = html_extract, textCol = html
            inputView = st19h_html, outputView = st19h_ext }
          { type = SqlTransform, name = out
            sql = \"\"\"SELECT doc_id, n_blocks, n_kept, n_words, text
              FROM st19h_ext ORDER BY doc_id\"\"\"
            outputView = st19h_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) => graft.pipeline.Runner.run(p).get
      }
    },

    // The flagship five-operator pretraining recipe reached from PARSED
    // CONFIG (round 18): quality filter -> exact dedup -> MinHash
    // near-dedup -> DSIR importance -> per-language top-fraction, the
    // curate_pretrain chain verbatim — so the oracle is shared.
    "stage_curate_pretrain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      docs(spark, dir).createOrReplaceTempView("st18c_docs")
      val conf = s"""
        stages = [
          { type = TextAnalysisTransform, name = qf
            analysis = quality_filter
            inputView = st18c_docs, outputView = st18c_q0
            minChars = $QfMinChars, maxChars = $QfMaxChars
            minWords = $QfMinWords, minTtr = $QfMinTtr
            minStopwordRatio = $QfMinStopword, maxPunctRatio = $QfMaxPunct }
          { type = SqlTransform, name = slim
            sql = "SELECT doc_id, lang, text FROM st18c_q0"
            outputView = st18c_q }
          { type = DedupTransform, name = dd, method = exact
            inputView = st18c_q, outputView = st18c_uniq
            keys = [text], idCol = doc_id }
          { type = DedupTransform, name = near, method = minhash
            inputView = st18c_uniq, outputView = st18c_near
            idCol = doc_id, textCol = text }
          { type = SampleTransform, name = dsir, method = importance
            inputView = st18c_near, outputView = st18c_imp
            idCol = doc_id, textCol = text
            stratumCol = lang, targetValue = en, nBuckets = $DsirBuckets }
          { type = SqlTransform, name = relang
            sql = \"\"\"SELECT i.*, n.lang
              FROM st18c_imp i
              JOIN (SELECT doc_id, lang FROM st18c_near) n
              USING (doc_id)\"\"\"
            outputView = st18c_scored }
          { type = SampleTransform, name = keep, method = top_stratum
            inputView = st18c_scored, outputView = st18c_top
            stratumCol = lang, weightCol = score, idCol = doc_id
            rate = $CurateKeepFrac }
          { type = SqlTransform, name = out
            sql = \"\"\"SELECT doc_id, lang, n_tokens, score, rank
              FROM st18c_top ORDER BY doc_id\"\"\"
            outputView = st18c_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) => graft.pipeline.Runner.run(p).get
      }
    },

    "events_outliers" -> { (spark, dir) =>
      Profile.outliers(events(spark, dir), "value", Seq("event_type"))
        .where(col("is_outlier"))
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    },

    "quality_score" -> { (spark, dir) =>
      TextAnalysis.qualityScore(docs(spark, dir), "doc_id", "text",
          Seq("ttr" -> 2.0, "stopword_ratio" -> 5.0, "punct_ratio" -> -10.0),
          bias = -1.5)
        .orderBy("doc_id")
    },

    // Per-language bigram-LM cross-entropy of every doc against the
    // corpus's own smoothed model (the CCNet perplexity-filter shape).
    "quality_lm_score" -> { (spark, dir) =>
      LanguageModel.bigramCrossEntropy(docs(spark, dir), "doc_id", "text",
          groupCols = Seq("lang"), alpha = LmAlpha)
        .orderBy("doc_id")
    },

    // Per-language interpolated Kneser-Ney TRIGRAM cross-entropy (round
    // 18): the n>=3 perplexity filter real curation pipelines run, with
    // continuation-count lower orders (Kneser-Ney 1995, Chen-Goodman
    // 1999) and a fixed discount.
    "quality_kn_score" -> { (spark, dir) =>
      LanguageModel.knTrigramCrossEntropy(docs(spark, dir), "doc_id",
          "text", groupCols = Seq("lang"), discount = KnDiscount)
        .orderBy("doc_id")
    },

    // Duplicated-span fraction per doc: which docs carry corpus-repeated
    // 8-gram spans even when no whole-doc duplicate exists.
    "text_dup_spans" -> { (spark, dir) =>
      TextAnalysis.dupSpans(docs(spark, dir), "doc_id", "text", n = DupSpanN)
        .orderBy("doc_id")
    },

    // Positional sharpening of dup_spans: contiguous dup-gram islands,
    // max island length per doc (the copied-span length signal).
    "text_dup_runs" -> { (spark, dir) =>
      TextAnalysis.dupRuns(docs(spark, dir), "doc_id", "text", n = DupSpanN)
        .orderBy("doc_id")
    },

    // Pairwise suffix-fidelity sharpening of dup_runs: longest substring
    // shared verbatim by each doc PAIR (aligned positional-gram runs on
    // the A-B diagonal), exact above the n-word threshold.
    "text_dup_substring" -> { (spark, dir) =>
      TextAnalysis.dupSubstring(docs(spark, dir), "doc_id", "text",
          n = DupSpanN)
        .orderBy("doc_a", "doc_b")
    },

    // The ExactSubstr ACTION (Lee et al. 2022): excise every >= n-word
    // substring shared with a lower-id doc, keep the remainder — the
    // first corpus occurrence of each span survives.
    "text_dup_substring_apply" -> { (spark, dir) =>
      TextAnalysis.dupSubstringApply(docs(spark, dir), "doc_id", "text",
          n = DupSpanN)
        .orderBy("doc_id")
    },

    // WITHIN-doc repeated-span excision (the self-alignment counterpart):
    // later verbatim occurrences of an earlier span excise; periodic
    // text collapses to one period.
    "text_self_repetition_apply" -> { (spark, dir) =>
      TextAnalysis.selfRepetitionApply(docs(spark, dir), "doc_id", "text",
          n = SelfRepN)
        .orderBy("doc_id")
    },

    // Group-distinctive terms per language (weighted log-odds, informative
    // Dirichlet prior from the corpus itself).
    "text_keyness" -> { (spark, dir) =>
      TextAnalysis.keyness(docs(spark, dir), "lang", "text",
          alpha0 = KeynessAlpha, topK = KeynessTopK)
        .orderBy("grp", "word")
    },

    "profile_histogram" -> { (spark, dir) =>
      Profile.histogram(docs(spark, dir), "n_chars", 200.0)
        .orderBy("bin")
    },

    "ngram_counts" -> { (spark, dir) =>
      TextAnalysis.ngramCounts(docs(spark, dir), "text", n = 2, minCount = 5)
        .orderBy("gram")
    },

    // Exploded to (doc_id, d, v) scalar rows — same comparator constraint
    // as embed_standardize.
    "text_vectorize" -> { (spark, dir) =>
      TextAnalysis.hashingVectorize(docs(spark, dir), "doc_id", "text",
          dim = 16)
        .select(col("doc_id"), posexplode(col("vec")).as(Seq("d", "v")))
        .select(col("doc_id"), col("d").cast("long").as("d"), col("v"))
        .orderBy("doc_id", "d")
    },

    "inverted_index" -> { (spark, dir) =>
      Retrieval.invertedIndex(docs(spark, dir), "doc_id", "text", minDf = 5)
        .orderBy("term")
    },

    "bm25_topk" -> { (spark, dir) =>
      Retrieval.bm25TopK(docs(spark, dir), "doc_id", "text",
          Bm25Terms, k = Bm25K)
        .orderBy("rnk")
    },

    // Query-likelihood retrieval with Dirichlet smoothing over the same
    // query bag as bm25_topk — the language-modeling ranker; every
    // query term contributes background mass to every candidate.
    "retrieval_qld" -> { (spark, dir) =>
      Retrieval.qldTopK(docs(spark, dir), "doc_id", "text",
          Bm25Terms, k = Bm25K)
        .orderBy("rnk")
    },

    // RM3 pseudo-relevance feedback over the same query: top-5 QLD
    // docs supply a uniform-weight relevance model, its top-10 terms
    // expand the query at alpha = 1/2, and the interpolated weighted
    // query re-ranks — the standard expansion loop when two query
    // words undersell the topic's vocabulary.
    "retrieval_rm3" -> { (spark, dir) =>
      Retrieval.rm3TopK(docs(spark, dir), "doc_id", "text",
          Bm25Terms, k = Bm25K, fbDocs = 5, fbTerms = 10)
        .orderBy("rnk")
    },

    // Leave-one-out target encoding of document source against length —
    // the leakage-safe mean encoding for high-cardinality categoricals.
    "encode_target_loo" -> { (spark, dir) =>
      Encoding.targetEncodeLoo(docs(spark, dir), "doc_id", "source",
          "n_chars")
        .orderBy("doc_id")
    },

    // Weight-of-evidence + information value of order priority against
    // the fulfilled flag — the supervised categorical encoding a linear
    // scorecard consumes, and the IV leakage screen beside profile_mi.
    "encode_woe" -> { (spark, dir) =>
      Encoding.woe(
          spark.read.parquet(s"$dir/orders.parquet")
            .withColumn("__y", col("o_orderstatus") === "F"),
          "o_orderpriority", "__y")
        .orderBy("level")
    },

    // Post-stratified purchase-vs-click value means over user-id mod-4
    // segments — the imbalance correction that needs no pre-period.
    "ab_poststrat" -> { (spark, dir) =>
      Drift.postStratified(
          events(spark, dir)
            .where(col("event_type").isin("purchase", "click"))
            .withColumn("segment", col("user_id") % 4),
          "event_type", "segment", "value")
        .orderBy("arm")
    },

    "retrieval_rrf" -> { (spark, dir) =>
      // Hybrid retrieval: BM25 lexical ranking fused with the cosine
      // ranking of query vector RrfQueryVec by reciprocal-rank fusion
      // (doc ids and vec ids share the id space in the synthetic corpus).
      val lex = Retrieval.bm25TopK(docs(spark, dir), "doc_id", "text",
          Bm25Terms, k = RrfPoolK)
        .select(col("doc_id"), col("rnk"))
      val e = embs(spark, dir)
      val sem = Similarity.bruteTopK(
          e, e.where(col("vec_id") === RrfQueryVec), RrfPoolK)
        .select(col("n_id").as("doc_id"), col("rank").as("rnk"))
      Retrieval.rrfFuse(Seq(lex, sem), k = RrfTopK, rrfK = RrfC)
        .orderBy("rnk")
    },

    // PII is injected deterministically (the synthetic corpus has none):
    // every third doc gains an email, a dotted-quad IP and a phone token
    // derived from its doc_id, so detection exercises real matches.
    "pii_stats" -> { (spark, dir) =>
      Pii.stats(withInjectedPii(docs(spark, dir)), "doc_id", "text")
        .orderBy("doc_id")
    },

    // One-row corpus health report over the PII-injected corpus.
    "corpus_report" -> { (spark, dir) =>
      Profile.corpusReport(withInjectedPii(docs(spark, dir)),
        "doc_id", "text", "lang", "source")
    },

    // k-anonymity audit of (segment, nation) as the quasi-identifier.
    "pii_kanon" -> { (spark, dir) =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      Pii.kAnonymityProfile(cust, Seq("c_mktsegment", "c_nationkey"), KanonK)
        .orderBy("c_mktsegment", "c_nationkey")
    },

    // l-diversity: the k-anonymity blind spot — a combo is at risk when
    // its SENSITIVE attribute (account-balance sign tier) is uniform.
    "pii_ldiversity" -> { (spark, dir) =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .withColumn("bal_tier",
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid").otherwise("high"))
      Pii.lDiversityProfile(cust, Seq("c_mktsegment", "c_nationkey"),
          "bal_tier", LdivL)
        .orderBy("c_mktsegment", "c_nationkey")
    },

    // t-closeness (round 18): the third release-audit axis — how far
    // each quasi-id combo's sensitive DISTRIBUTION (account balance)
    // sits from the corpus's, as the paper's normalized ordered EMD.
    "pii_tcloseness" -> { (spark, dir) =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      Pii.tClosenessProfile(cust, Seq("c_mktsegment", "c_nationkey"),
          "c_acctbal", TclosT)
        .orderBy("c_mktsegment", "c_nationkey")
    },

    // Full-cell suppression of under-k quasi-id combos.
    "pii_suppress" -> { (spark, dir) =>
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      Pii.kAnonymize(cust, Seq("c_mktsegment", "c_nationkey"), KanonK)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .orderBy("c_custkey")
    },

    // Laplace-mechanism noisy histogram with the deterministic
    // inverse-CDF draw (engine-replayable DP release harness).
    "dp_noisy_counts" -> { (spark, dir) =>
      Pii.noisyCounts(docs(spark, dir), Seq("lang", "source"),
          DpScale, DpSalt)
        .orderBy("lang", "source")
    },

    // LOCAL-DP randomized response over the language column: each row
    // perturbs ITSELF (truth w.p. 3/4, else a uniform other lang)
    // before any aggregation, then the GRR frequency oracle inverts
    // the known noise — the collector-never-sees-truth counterpart of
    // dp_noisy_counts' central-DP Laplace.
    "dp_randomized_response" -> { (spark, dir) =>
      Pii.randomizedResponseCounts(docs(spark, dir), "doc_id", "lang",
          RrPNum, RrPDen)
        .orderBy("value")
    },

    // Scalable global ordinal (curriculum order by document length) —
    // no single-partition window anywhere.
    "curriculum_order" -> { (spark, dir) =>
      Sampling.globalOrdinal(docs(spark, dir), "doc_id", "n_chars")
        .orderBy("pos")
    },

    // BPE application under a fixed literal merge table (the trained-
    // once / applied-everywhere tokenizer shape; includes the chained
    // a+n -> an, an+d -> and merge pair).
    "bpe_encode" -> { (spark, dir) =>
      TextAnalysis.bpeApplyMerges(docs(spark, dir), "doc_id", "text",
          BpeMerges)
        .orderBy("doc_id")
    },

    // Tokenizer fertility by language under the same merge table.
    "bpe_fertility" -> { (spark, dir) =>
      TextAnalysis.bpeFertility(docs(spark, dir), "text", "lang", BpeMerges)
        .orderBy("group")
    },

    // Byte-level BPE merge learning (Radford et al. 2019): argmax-merge
    // rounds over UTF-8 byte symbols; no word is ever dropped (hex
    // symbols cannot collide with the frame separator).
    "bytebpe_merges" -> { (spark, dir) =>
      ByteBpe.learn(docs(spark, dir), "text", rounds = ByteBpeRounds)
        .orderBy("merge_round")
    },

    // Byte-level BPE application under the fixed hex merge table —
    // UNK-free by construction; per-doc word/token/byte counts.
    "bytebpe_encode" -> { (spark, dir) =>
      ByteBpe.encode(docs(spark, dir), "doc_id", "text", ByteBpeMerges)
        .orderBy("doc_id")
    },

    // Byte-level fertility + bytes-per-token by language.
    "bytebpe_fertility" -> { (spark, dir) =>
      ByteBpe.fertility(docs(spark, dir), "text", "lang", ByteBpeMerges)
        .orderBy("group")
    },

    // HTML -> clean text (jusText-shape pinned block rules) over
    // deterministic synthetic markup: nav/footer/promo boilerplate
    // drops on link density, headings on minWords, and the content
    // <p> keeps iff its stopword density clears the pinned 5%.
    "text_html_extract" -> { (spark, dir) =>
      Html.extract(
        docs(spark, dir).selectExpr("doc_id",
          s"($HtmlSynthExpr) AS html"),
        "doc_id", "html")
        .orderBy("doc_id")
    },

    // Mojibake repair: corpus seeded with repertoire chars, corrupted
    // by the pinned UTF-8-read-as-cp1252 artifact table, repaired by
    // the full-table chained replace. `changed` marks every touched
    // doc (docs without the seed words pass through unchanged).
    "text_fix_encoding" -> { (spark, dir) =>
      Mojibake.repair(
        docs(spark, dir).selectExpr("doc_id",
          s"(${mojiCorruptSql(s"($MojiSeedExpr)")}) AS text"),
        "doc_id", "text")
        .orderBy("doc_id")
    },

    // DOUBLY double-decoded text (the ftfy fixpoint case): depth-2
    // repair unwinds one cp1252 layer per pass through the
    // closure-completed artifact table.
    "text_fix_encoding2" -> { (spark, dir) =>
      Mojibake.repair(
        docs(spark, dir).selectExpr("doc_id",
          s"($MojiSeed2Expr) AS text"),
        "doc_id", "text", depth = 2)
        .orderBy("doc_id")
    },

    // Unicode NFC canonical composition (UAX #15): decomposed
    // e+combining-acute and the Angstrom sign compose; already-composed
    // text passes through byte-identical (changed = false).
    "text_nfc" -> { (spark, dir) =>
      Mojibake.nfcNormalize(
        docs(spark, dir).selectExpr("doc_id",
          s"($NfcSeedExpr) AS text"),
        "doc_id", "text")
        .orderBy("doc_id")
    },

    // Unigram-LM tokenizer learning (Kudo 2018, Viterbi hard-EM over
    // the distinct-word table): substring seed -> 2 EM rounds -> the
    // top-24 piece vocabulary.
    "unigram_merges" -> { (spark, dir) =>
      Unigram.learn(docs(spark, dir), "text", UniVocab, UniMaxPiece,
          UniIters, UniSeed)
        .orderBy("rank")
    },

    // Viterbi encoding under the FIXED literal unigram vocab (the
    // bpe_encode trained-once precedent): per-doc token count and
    // negative log-likelihood.
    "unigram_encode" -> { (spark, dir) =>
      Unigram.encode(docs(spark, dir), "doc_id", "text", UniEncVocab,
          UniMaxPiece)
        .orderBy("doc_id")
    },

    // Tokenizer fertility by language under the same unigram vocab.
    "unigram_fertility" -> { (spark, dir) =>
      Unigram.fertility(docs(spark, dir), "text", "lang", UniEncVocab,
          UniMaxPiece)
        .orderBy("group")
    },

    // Header validation: payloads carry the magic of a (sometimes
    // deliberately rotated) actual format; validation runs against the
    // DECLARED format, so every doc_id % 13 == 0 row quarantines.
    "multimodal_validate" -> { (spark, dir) =>
      val fmts = array(lit("png"), lit("jpeg"), lit("wav"))
      val declared = element_at(fmts, (col("doc_id") % 3 + 1).cast("int"))
      val rotated =
        element_at(fmts, ((col("doc_id") + 1) % 3 + 1).cast("int"))
      val actual = when(col("doc_id") % 13 === 0, rotated)
        .otherwise(declared)
      Multimodal.validatePayloads(
          Multimodal.attachTyped(
              docs(spark, dir).withColumn("__fmt", actual),
              "doc_id", "text", "__fmt")
            .withColumn("format", declared))
        .orderBy("doc_id")
    },

    // CDF-style change feed between two derived orders versions:
    // % 11 keys deleted, % 7 keys inserted, % 5 prices doubled.
    "snapshot_diff" -> { (spark, dir) =>
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val prev = ord.where(col("o_orderkey") % 7 =!= 0)
      val next = ord.where(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      Maintenance.changedKeys(prev, next, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // Pearson correlation matrix over the lineitem measures (shares the
    // PCA Gram machinery, max-abs pre-scaled).
    "profile_corr_matrix" -> { (spark, dir) =>
      Profile.correlationMatrix(
          spark.read.parquet(s"$dir/lineitem.parquet"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("i", "j")
    },

    // Exact fixed-point covariance of the embedding corpus (the corpus-
    // side half of PCA; the dim^2-bounded eigen step is spec-verified).
    "embed_pca" -> { (spark, dir) =>
      Pca.covariance(spark.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", dim = 64)
        .orderBy("i", "j")
    },

    // Interval-overlap join: purchase windows vs click windows per user,
    // canonical-bucket dedup (no distinct pass).
    "interval_join" -> { (spark, dir) =>
      val ev = events(spark, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").as("p_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("p_end"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("ts").as("c_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("c_end"))
      Joins.intervalOverlap(p, "p_start", "p_end", c, "c_start", "c_end",
          Seq("user_id"), bucketSeconds = 1800)
        .select("user_id", "p_id", "c_id")
        .orderBy("user_id", "p_id", "c_id")
    },

    // Leading-edge debounce: any same-user event within 10 minutes of
    // the previous one is suppressed.
    "events_debounce" -> { (spark, dir) =>
      Behavior.debounce(events(spark, dir), "ts", "user_id", "event_id",
          gapSeconds = 600)
        .select("event_id", "user_id", "ts")
        .orderBy("event_id")
    },

    // Throttle (gap since last KEPT): the sequential per-key scan, gated
    // via DuckDB's list_reduce with a string accumulator.
    "events_throttle" -> { (spark, dir) =>
      Behavior.throttle(events(spark, dir), "ts", "user_id", "event_id",
          gapSeconds = 600)
        .orderBy("event_id")
    },

    // Per-group trimmed mean over the middle 90% band.
    "robust_mean" -> { (spark, dir) =>
      Profile.trimmedMean(spark.read.parquet(s"$dir/lineitem.parquet"),
          "l_extendedprice", Seq("l_returnflag"), 0.05, 0.95)
        .orderBy("l_returnflag")
    },

    // Cross-table reconciliation: the right side drops % 17 keys and
    // perturbs % 13 prices — count and sum drift per priority group.
    "dq_reconcile" -> { (spark, dir) =>
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val right = ord.where(col("o_orderkey") % 17 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
      DataQuality.reconcile(ord, right, Seq("o_orderpriority"),
          Seq("o_totalprice"))
        .orderBy("o_orderpriority")
    },

    // One-row embedding-table health screen.
    "embed_health" -> { (spark, dir) =>
      Similarity.embeddingHealth(
        spark.read.parquet(s"$dir/embeddings.parquet"), "embedding", 64)
    },

    // Group-mode repair of a deterministically nulled-out categorical.
    "impute_mode" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("l_linestatus",
          when(col("l_orderkey") % 17 === 0, lit(null))
            .otherwise(col("l_linestatus")))
      DataQuality.imputeMode(li, "l_linestatus", Seq("l_returnflag"))
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_linestatus")
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    "pii_scrub" -> { (spark, dir) =>
      Pii.scrub(withInjectedPii(docs(spark, dir)), "text")
        .select("doc_id", "text")
        .orderBy("doc_id")
    },

    "pagerank" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      Graph.pagerank(Graph.supplierCustomerEdges(li, ord), iters = 3)
        .orderBy("node")
    },

    // Katz walk centrality on the same graph (alpha = 3/100, inside
    // the overflow guard at the observed in-degrees): full-strength
    // endorsements where pagerank dilutes by out-degree — the pair of
    // centralities link-analysis reads together.
    "graph_katz" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      Graph.katz(Graph.supplierCustomerEdges(li, ord), iters = 3,
          alphaNum = 30, alphaDen = 1000)
        .orderBy("node")
    },

    // HITS hubs & authorities on the same graph (2 full update rounds):
    // the role-separating link analysis — on this bipartite graph the
    // supplier side carries ALL hub mass and the customer side ALL
    // authority mass, which pagerank/katz blend into one score.
    "graph_hits" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      Graph.hits(Graph.supplierCustomerEdges(li, ord), iters = 2)
        .orderBy("node")
    },

    // Generic weakly-connected components over a sparse slice of the
    // supplier-customer graph (high-quantity purchases only, so real
    // multi-component structure survives) — the min-label fixpoint the
    // dedup clustering uses, exercised on arbitrary string-node edges.
    "graph_cc" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_quantity") >= CcQtyMin)
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      Dedup.connectedComponents(
          Graph.supplierCustomerEdges(li, ord)
            .select(col("src").as("doc_a"), col("dst").as("doc_b")))
        .select(col("doc_id").as("node"), col("component"))
        .orderBy("node")
    },

    // Strongly connected components on a DIRECTED supplier<->customer
    // graph: high-quantity flows point s->c, low-quantity flows point
    // c->s — the Broder web shape emerges (one giant SCC + tendrils).
    // Trim + coloring + backward confirmation; scc = component min id.
    "graph_scc" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val fwd = j.where(col("l_quantity") >= SccQtyHi)
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst")).distinct()
      val bwd = j.where(col("l_quantity") <= SccQtyLo)
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      Graph.scc(fwd.unionAll(bwd)).orderBy("node")
    },

    // Topological layering of the SCC condensation (same digraph):
    // longest-path-from-source depth per component — the IN / giant-SCC /
    // OUT ordering stages that respect link direction process in.
    "graph_topo_layers" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val fwd = j.where(col("l_quantity") >= SccQtyHi)
        .select(concat(lit("s"), col("l_suppkey")).as("src"),
          concat(lit("c"), col("o_custkey")).as("dst")).distinct()
      val bwd = j.where(col("l_quantity") <= SccQtyLo)
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      Graph.topoLayers(fwd.unionAll(bwd)).orderBy("scc")
    },

    "bucketize_quantile" -> { (spark, dir) =>
      Profile.bucketizeQuantile(events(spark, dir), "value", nBins = 4)
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), min("value").as("lo"),
          max("value").as("hi"))
        .orderBy("bin")
    },

    "winsorize" -> { (spark, dir) =>
      Profile.winsorize(events(spark, dir), "value", 0.05, 0.95)
        .where(col("event_id") < 2000)
        .select("event_id", "value", "winsorized")
        .orderBy("event_id")
    },

    "sketch_hll" -> { (spark, dir) =>
      graft.functions.Sketches.hllDistinct(
          spark.read.parquet(s"$dir/lineitem.parquet"),
          col("l_partkey"), Seq("l_returnflag"), m = HllM)
        .orderBy("l_returnflag")
    },

    "sketch_cms" -> { (spark, dir) =>
      graft.functions.Sketches.cmsHeavy(
          spark.read.parquet(s"$dir/lineitem.parquet"),
          col("l_suppkey"), depth = CmsDepth, width = CmsWidth, topN = CmsTopN)
        .orderBy(col("exact_count").desc, col("key"))
    },

    // Pre-shuffle join-size estimation from two CMS sketches (sketch
    // inner product) — "can this join's output fit?" answered from
    // KB-sized sketches; exact_pairs is the calibration column.
    "sketch_join_size" -> { (spark, dir) =>
      graft.functions.Sketches.cmsJoinSize(
        events(spark, dir), col("user_id"),
        spark.read.parquet(s"$dir/orders.parquet"), col("o_custkey"),
        depth = CmsDepth, width = JsWidth)
    },

    // The incremental-corpus contract IN the gate: sketch three disjoint
    // shards independently, max-merge the register tables, estimate —
    // while the oracle sketches the WHOLE table in one pass. Equality is
    // the union-of-sketches == sketch-of-union property that lets daily
    // increments keep per-group distinct counts without ever rescanning
    // history.
    "sketch_hll_shards" -> { (spark, dir) =>
      import graft.functions.Sketches
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val shards = (0 until 3).map(s =>
        Sketches.hllRegisters(li.where(col("l_orderkey") % 3 === s),
          col("l_partkey"), Seq("l_returnflag"), m = HllM))
      Sketches.hllEstimate(Sketches.hllMerge(shards, Seq("l_returnflag")),
          Seq("l_returnflag"), m = HllM)
        .orderBy("l_returnflag")
    },

    // Overlap-between-corpora from persisted sketches: A = orders in the
    // even-orderkey half, B = the %3 == 0 third (true overlap: %6 == 0).
    // Inclusion-exclusion over register tables — no corpus join anywhere.
    "sketch_hll_intersect" -> { (spark, dir) =>
      import graft.functions.Sketches
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ra = Sketches.hllRegisters(li.where(col("l_orderkey") % 2 === 0),
        col("l_partkey"), Seq("l_returnflag"), m = HllM)
      val rb = Sketches.hllRegisters(li.where(col("l_orderkey") % 3 === 0),
        col("l_partkey"), Seq("l_returnflag"), m = HllM)
      Sketches.hllIntersectEstimate(ra, rb, Seq("l_returnflag"), m = HllM)
        .orderBy("l_returnflag")
    },

    // Bottom-k coordinated-sample Jaccard between the orders-referenced
    // customer set and the customer table (true value ≈ the share of
    // customers with at least one order).
    "sketch_kmv_jaccard" -> { (spark, dir) =>
      import graft.functions.Sketches
      Sketches.kmvJaccard(
        spark.read.parquet(s"$dir/orders.parquet"), col("o_custkey"),
        spark.read.parquet(s"$dir/customer.parquet"), col("c_custkey"),
        k = KmvJk)
    },

    // KMV set-difference estimate: ordering customers NOT in the
    // (c_custkey % 3 != 0) subset — the "how much is new / uncovered"
    // audit at sketch cost.
    "sketch_kmv_diff" -> { (spark, dir) =>
      import graft.functions.Sketches
      Sketches.kmvDifference(
        spark.read.parquet(s"$dir/orders.parquet"), col("o_custkey"),
        spark.read.parquet(s"$dir/customer.parquet")
          .where(col("c_custkey") % 3 =!= 0), col("c_custkey"),
        k = KmvJk)
    },

    // Per-stratum top fraction: top 20% by length within each language.
    "sample_top_stratum" -> { (spark, dir) =>
      Sampling.topFractionPerStratum(docs(spark, dir), "lang", "n_chars",
          "doc_id", 0.2)
        .select("doc_id", "lang", "n_chars", "rank")
        .orderBy("doc_id")
    },

    // Rolling 3-day distinct users per day from per-bucket register
    // tables — the sliding-window distinct that never re-scans raw rows.
    "sketch_hll_rolling" -> { (spark, dir) =>
      import graft.functions.Sketches
      Sketches.hllRolling(Tables.eventsRaw(spark, dir),
          expr("ts div 86400000000"), col("user_id"),
          window = RollHllWindow, m = HllM)
        .orderBy("bucket")
    },

    "zorder_layout" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      Layout.zorderManifest(li, "x", "y", "id", blockSize = ZBlock,
          bits = ZBits)
        .orderBy("block_id")
    },

    // N-dimensional Z-order (Delta/Iceberg OPTIMIZE ZORDER BY parity —
    // real tables hit 3+ clustering dimensions quickly): the same layout
    // over THREE interleaved bit-streams, manifest tight in all three.
    "zorder_layout3" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          col("l_quantity").cast("long").as("q"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      Layout.zorderManifestN(li, Seq("x", "y", "q"), "id",
          blockSize = ZBlock, bits = ZBits)
        .orderBy("block_id")
    },

    // Hilbert-curve layout (the Z-order upgrade clustering engines moved
    // to): same one-shuffle sort + block carve, strictly better locality
    // — successive curve positions are unit grid steps, so equal-size
    // blocks get tighter min-max boxes (quantified in LayoutSpec).
    "hilbert_layout" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      Layout.hilbertManifest(li, "x", "y", "id", blockSize = ZBlock,
          bits = ZBits)
        .orderBy("block_id")
    },

    // End-to-end skipping index: write the Z-order layout (data
    // partitioned by block + min-max manifest), answer a range query
    // through manifest pruning — min-max skipping is conservative, so
    // the result must be IDENTICAL to filtering the raw table, which is
    // exactly what the oracle does.
    "zorder_prune" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      // per-name scratch dir: zorderWrite overwrites both data and
      // manifest wholesale, so reuse across invocations is clean
      val tmp = scratchDir("graft_zprune")
      Layout.zorderWrite(li, "x", "y", "id", tmp.toString,
        blockSize = ZBlock, bits = ZBits,
        options = Map("confirm.truncate" -> "true"))
      // the synthetic lineitem has duplicate (orderkey, linenumber) pairs,
      // so id alone is not a total order — x, y break the ties
      Layout.prunedRead(spark, tmp.toString,
          ZPruneXLo, ZPruneXHi, ZPruneYLo, ZPruneYHi)
        .orderBy("id", "x", "y")
    },

    // Bloom block skipping: point lookups on `id`, the column the curve
    // SCATTERS (every block's id min-max covers any probe, so the range
    // manifest is blind here) - the second statistics tier beside
    // min-max. Exact by construction: bloom misses only admit blocks.
    "zorder_prune_bloom" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      val tmp = scratchDir("graft_zbloom")
      Layout.zorderWrite(li, "x", "y", "id", tmp.toString,
        blockSize = ZBlock, bits = ZBits,
        options = Map("confirm.truncate" -> "true"))
      Layout.bloomAugment(spark, tmp.toString, "id",
        mBits = ZBloomMBits, k = 5,
        options = Map("confirm.truncate" -> "true"))
      Layout.bloomRead(spark, tmp.toString, "id", ZBloomProbeIds)
        .orderBy("id", "x", "y")
    },

    // Targeted delete (right-to-be-forgotten): remove a pinned id set
    // from the published layout AND its derived stores via manifest +
    // bloom-pruned rewrites — only blocks with actual hits are
    // rewritten (byte-identity of the rest is pinned in LayoutSpec).
    // The post-delete store must read EXACTLY like the raw table minus
    // the deleted ids — the semantic oracle below.
    "maintenance_delete" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      val tmp = scratchDir("graft_zdelete")
      Layout.zorderWrite(li, "x", "y", "id", tmp.toString,
        blockSize = ZBlock, bits = ZBits,
        options = Map("confirm.truncate" -> "true"))
      Layout.bloomAugment(spark, tmp.toString, "id",
        mBits = ZBloomMBits, k = 5,
        options = Map("confirm.truncate" -> "true"))
      val ids = spark.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_linenumber") === 1 && col("l_orderkey") % 97 === 0)
        .select((col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      Layout.targetedDelete(spark, tmp.toString, "id", ids,
        options = Map("confirm.delete" -> "true"))
      spark.read.parquet(s"${tmp.toString}/data")
        .select(col("x"), col("y"), col("id"))
        .orderBy("id", "x", "y")
    },

    // N-dimensional Hilbert layout (Skilling's transpose — the k>=3
    // clustering key): pre-masked 6-bit domains so the manifest min-max
    // ranges are over the laid-out values themselves.
    "hilbert_layout3" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").bitwiseAND(63).as("x"),
          col("l_suppkey").bitwiseAND(63).as("y"),
          col("l_quantity").cast("long").bitwiseAND(63).as("q"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      Layout.hilbertManifestN(li, Seq("x", "y", "q"), "id",
          blockSize = ZBlock, bits = HilbertNBits)
        .orderBy("block_id")
    },

    // The Hilbert skipping index end-to-end: write + manifest-pruned
    // range read — prunedRead is curve-agnostic, and min-max skipping is
    // conservative, so the result must equal filtering the raw table.
    "hilbert_prune" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
          (col("l_orderkey") * 10000 + col("l_linenumber")).as("id"))
      val tmp = scratchDir("graft_hprune")
      Layout.hilbertWrite(li, "x", "y", "id", tmp.toString,
        blockSize = ZBlock, bits = ZBits,
        options = Map("confirm.truncate" -> "true"))
      Layout.prunedRead(spark, tmp.toString,
          ZPruneXLo, ZPruneXHi, ZPruneYLo, ZPruneYHi)
        .orderBy("id", "x", "y")
    },

    // CDC merge over a deterministic synthetic change feed: 1-in-5 of the
    // base keys update (price doubles), the %100==40 slice deletes, and
    // the %100==60 slice re-inserts under shifted keys — the oracle
    // states the EXPECTED snapshot independently (CASE/WHERE/UNION), so
    // this is a semantic oracle, not a replay.
    "merge_upsert" -> { (spark, dir) =>
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val base = ord.where(col("o_orderkey") % 20 === 0)
      val upd = base.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val del = base.where(col("o_orderkey") % 100 === 40)
      val ins = base.where(col("o_orderkey") % 100 === 60)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      val changes = upd.withColumn("op", lit("U"))
        .unionByName(del.withColumn("op", lit("D")))
        .unionByName(ins.withColumn("op", lit("U")))
        .withColumn("v", lit(1L))
      Cdc.upsert(base, changes, "o_orderkey", "v", "op")
        .orderBy("o_orderkey")
    },

    "scd2_history" -> { (spark, dir) =>
      Cdc.scd2(events(spark, dir), "user_id", "ts", "event_type")
        .orderBy("user_id", "valid_from", "event_type")
    },

    "embed_project" -> { (spark, dir) =>
      Similarity.projectSigned(embs(spark, dir), inDim = ProjIn,
          outDim = ProjOut)
        .orderBy("vec_id", "j")
    },

    "outliers_mad" -> { (spark, dir) =>
      Profile.outliersMad(events(spark, dir), "value", Seq("event_type"),
          k = MadK)
        .where(col("is_outlier"))
        .select("event_id", "event_type", "value", "robust_z")
        .orderBy("event_id")
    },

    "cube_agg" -> { (spark, dir) =>
      spark.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus")
    },

    "events_gapfill" -> { (spark, dir) =>
      TimeSeries.gapfillHourly(events(spark, dir), "ts", "event_type")
        .orderBy("event_type", "hour_start")
    },

    // Seasonality-aware anomaly flags: each (key, hour) against ITS OWN
    // hour-of-day mean over the dense grid — what a global MAD is blind
    // to (quiet hours are only anomalous vs other quiet hours).
    "events_seasonal" -> { (spark, dir) =>
      TimeSeries.seasonalDeviation(events(spark, dir), "ts", "event_type",
          lo = SeasonalLo, hi = SeasonalHi)
        .orderBy("event_type", "hour_start")
    },

    // Hour-of-WEEK seasonal flags (168 cells): the weekday/weekend
    // structure the hour-of-day baseline is blind to — Monday 9am is
    // only anomalous vs other Monday 9am's.
    "events_seasonal_weekly" -> { (spark, dir) =>
      TimeSeries.seasonalDeviationWeekly(events(spark, dir), "ts",
          "event_type", lo = SeasonalLo, hi = SeasonalHi)
        .orderBy("event_type", "hour_start")
    },

    // Time-of-week-aware anomaly composition (round 17): 168-cell
    // weekly baseline residuals |> per-key MAD modified-z — flags the
    // hours that deviate from THEIR OWN Monday-9am norm, where the
    // global-median events_anomaly trips on every busy weekday cell.
    "events_anomaly_weekly" -> { (spark, dir) =>
      TimeSeries.seasonalAnomalyWeekly(events(spark, dir), "ts",
          "event_type", k = AnomWeeklyK)
        .orderBy("event_type", "hour_start")
    },

    // Autocorrelation r_1..r_24 per event type over the dense hourly
    // count series — the periodicity/burstiness readout (daily rhythm
    // peaks at lag 24); exact integer cross sums, gaps count as zeros.
    "ts_acf" -> { (spark, dir) =>
      TimeSeries.acf(events(spark, dir), "ts", "event_type", maxLag = 24)
        .orderBy("event_type", "lag")
    },

    // Theil–Sen robust hourly trend per event type — the median of all
    // pairwise slopes (outlier-immune where OLS chases spikes).
    "ts_theilsen" -> { (spark, dir) =>
      TimeSeries.theilSen(events(spark, dir), "ts", "event_type")
        .orderBy("event_type")
    },

    // Pairwise banded DTW between event types' hourly activity shapes:
    // alignment-tolerant series similarity (a shifted/stretched copy
    // reads near-identical where fixed-lag comparison reads noise) —
    // one native DP kernel per pair, Sakoe–Chiba radius 24h.
    "ts_dtw" -> { (spark, dir) =>
      TimeSeries.dtw(events(spark, dir), "ts", "event_type",
          band = TsDtwBand)
        .orderBy("key_a", "key_b")
    },

    // Mann–Kendall monotone-trend test per event type — exact integer
    // S with tie-corrected variance and the classic continuity z.
    "ts_mannkendall" -> { (spark, dir) =>
      TimeSeries.mannKendall(events(spark, dir), "ts", "event_type")
        .orderBy("event_type")
    },

    // Gini coefficient of document length per language — the corpus
    // inequality/concentration readout (exact rank-free formulation
    // over per-value counts).
    "profile_gini" -> { (spark, dir) =>
      Profile.gini(docs(spark, dir), "n_chars", Seq("lang"))
        .orderBy("lang")
    },

    "events_rolling" -> { (spark, dir) =>
      TimeSeries.rolling(events(spark, dir), "ts", "user_id", "value",
          windowSeconds = RollWindowSec)
        .select("event_id", "user_id", "ts_us", "n_window", "sum_window")
        .orderBy("event_id")
    },

    // Rolling median of the user's last 5 values (robust smoother).
    "events_rolling_median" -> { (spark, dir) =>
      TimeSeries.rollingMedian(events(spark, dir), "ts", "user_id",
          "event_id", "value", k = 5)
        .select("event_id", "user_id", "n_frame", "rolling_median")
        .orderBy("event_id")
    },

    "events_ewma" -> { (spark, dir) =>
      TimeSeries.ewma(events(spark, dir), "ts", "user_id", "event_id",
          "value", alpha = EwmaAlpha)
        .orderBy("event_id")
    },

    "events_holt" -> { (spark, dir) =>
      // level + trend + one-step forecast per event under (ts, id) order
      TimeSeries.holt(events(spark, dir), "ts", "user_id", "event_id",
          "value", alpha = HoltAlpha, beta = HoltBeta)
        .orderBy("event_id")
    },

    // Snapshot diff → change feed (the upsert inverse): old = part, next
    // = part with deterministic deletes (key%7=0), price doublings
    // (key%5=0 — ×2 is exact IEEE scaling) and inserted keys (+1e7 for
    // key%11=0). The derived feed is minimal: unchanged keys absent.
    "cdc_derive" -> { (spark, dir) =>
      val p = spark.read.parquet(s"$dir/part.parquet")
        .select("p_partkey", "p_name", "p_retailprice")
      val k = col("p_partkey")
      val next = p.where(pmod(k, lit(7)) =!= 0)
        .withColumn("p_retailprice",
          when(pmod(k, lit(5)) === 0, col("p_retailprice") * 2)
            .otherwise(col("p_retailprice")))
        .unionByName(p.where(pmod(k, lit(11)) === 0)
          .select((k + 10000000L).as("p_partkey"), col("p_name"),
            col("p_retailprice")))
      Cdc.derive(p, next, "p_partkey").orderBy("p_partkey")
    },

    "text_blocklist" -> { (spark, dir) =>
      // whole-word safety screen: per hit doc, total/distinct term hits
      // and the sorted matched-term list
      TextAnalysis.blocklist(docs(spark, dir), "doc_id", "text", BlockTerms)
        .orderBy("doc_id")
    },

    // Composition: rate-anomaly detection = gap-fill |> MAD outliers.
    // The dense series is what makes the statistic honest — without the
    // zero-filled hours a silent outage is invisible to any threshold.
    "events_anomaly" -> { (spark, dir) =>
      val dense = TimeSeries.gapfillHourly(events(spark, dir), "ts",
        "event_type")
      Profile.outliersMad(dense, "n_events", Seq("event_type"), k = AnomK)
        .where(col("is_outlier"))
        .select("event_type", "hour_start", "n_events", "robust_z")
        .orderBy("event_type", "hour_start")
    },

    "profile_corr" -> { (spark, dir) =>
      Profile.correlation(spark.read.parquet(s"$dir/lineitem.parquet"),
          "l_quantity", "l_extendedprice", Seq("l_returnflag"))
        .orderBy("l_returnflag")
    },

    "negative_sample" -> { (spark, dir) =>
      Sampling.negativeSample(docs(spark, dir), "doc_id", k = NegK,
          nBuckets = NegBuckets)
        .orderBy("anchor_id", "i")
    },

    "streaming_dedup" -> { (spark, dir) =>
      // TRUE streaming dedup, batch-verified: the events table streams in
      // as three micro-batches through dropDuplicatesWithinWatermark on
      // (user_id, event_type); the appended sink then holds exactly one
      // row per key REGARDLESS of which arrival won, so projecting the
      // keys replays as a DISTINCT in the oracle — and any duplicate the
      // state path leaks across micro-batches fails rows_match. The
      // watermark is sized far past the data range so late-arrival drops
      // cannot make the key set depend on the file split.
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val tmp = scratchDir("graft_sdedup")
      // the sink is APPEND-mode: clear the previous invocation's output
      // (and any stale checkpoint) so a reused scratch dir starts fresh
      rmrf(tmp.resolve("deduped.parquet")); rmrf(tmp.resolve("_checkpoint"))
      val in = tmp.resolve("in")
      Tables.eventsRaw(spark, dir).repartition(3)
        .write.parquet(in.toString)
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        val stream = scope.spark.readStream
          .schema(Tables.eventsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
          .withColumn("ts", timestamp_micros(col("ts")))
        val deduped = StreamingOps.dedupStream(stream, "ts",
          Seq("user_id", "event_type"), watermark = Some("100000 hours"))
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          deduped.select("user_id", "event_type"),
          new graft.connect.ParquetConnector(tmp.toString), "deduped",
          checkpointDir = s"$tmp/_checkpoint")
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the multi-batch " +
              "dedup-state path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/deduped.parquet")
        .orderBy("user_id", "event_type")
    },

    // TRUE stream-stream join, batch-verified: clicks and purchases read
    // the same three-file event scatter as TWO independent file-source
    // streams joined per user on a [click, click + 1h] event-time range.
    // The round-robin split scatters each user's events across files, so
    // most pairs straddle micro-batches and must match through the join
    // STATE store; inner-join results emit eagerly, the sink appends, and
    // the completed pair set replays as a plain range self-join in the
    // oracle — any pair the state path drops or duplicates breaks
    // rows/hash. Watermarks sized past the data range (the
    // streaming_dedup pattern): state eviction must not make the pair
    // set depend on file placement. Time bounds compare MICROSECOND
    // longs on both engines (the events table stores nanos; both sides
    // truncate ns -> us identically). The input restricts to a
    // deterministic user slice (user_id % 5 = 0) and the two joined
    // types: the un-evictable state of the determinism-sized watermark
    // would otherwise make this the slowest query in the bench for no
    // extra coverage — the cross-batch state path is exercised either
    // way.
    "streaming_join" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val tmp = scratchDir("graft_sjoin")
      rmrf(tmp.resolve("attributed.parquet")); rmrf(tmp.resolve("_checkpoint"))
      val in = tmp.resolve("in")
      Tables.eventsRaw(spark, dir)
        .where(col("user_id") % 5 === 0 &&
          col("event_type").isin("click", "purchase"))
        .repartition(3)
        .write.parquet(in.toString)
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        def src() = scope.spark.readStream
          .schema(Tables.eventsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
          .withColumn("ts", timestamp_micros(col("ts")))
        val clicks = src().where(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
        val buys = src().where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"))
        val joined = StreamingOps.joinStreams(clicks, buys, "user_id",
          "click_ts", "purchase_ts", horizon = "1 HOUR",
          watermark = Some("100000 hours"))
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          joined.select(col("user_id"), col("click_id"), col("purchase_id"),
            unix_micros(col("click_ts")).as("click_ts_us"),
            unix_micros(col("purchase_ts")).as("purchase_ts_us")),
          new graft.connect.ParquetConnector(tmp.toString), "attributed",
          checkpointDir = s"$tmp/_checkpoint")
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the " +
              "cross-batch join-state path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/attributed.parquet")
        .orderBy("click_id", "purchase_id")
    },

    // TRUE arbitrary-state streaming, batch-verified: the events table
    // streams in as three micro-batches through mapGroupsWithState
    // (StreamingOps.runningCountsPerKey — one long of state per key);
    // every micro-batch appends its cumulative (key, total) emissions to
    // the sink. The LAST cumulative value per key equals the key's total
    // event count REGARDLESS of how the input split into batches, so
    // max(running_total) replays as a plain GROUP BY count in the oracle —
    // and any state lost or double-counted across micro-batches breaks
    // the hash.
    // TRUE stream-static enrichment, batch-verified: events stream in as
    // three micro-batches; each batch broadcast-joins the STATIC segment
    // dimension (user_id -> user_id % 7) — stateless, no watermark, the
    // production attach-the-dimension pattern. The appended sink holds
    // every enriched event exactly once however the files were split, so
    // the per-segment rollup replays as a plain batch aggregate in the
    // oracle — a dropped or duplicated micro-batch breaks rows/hash.
    "streaming_enrich" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val tmp = scratchDir("graft_senrich")
      rmrf(tmp.resolve("enriched.parquet")); rmrf(tmp.resolve("_checkpoint"))
      val in = tmp.resolve("in")
      Tables.eventsRaw(spark, dir).repartition(3).write.parquet(in.toString)
      val dim = Tables.eventsRaw(spark, dir).select(col("user_id")).distinct()
        .withColumn("segment", pmod(col("user_id"), lit(7L)))
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        val stream = scope.spark.readStream
          .schema(Tables.eventsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
        val enriched = StreamingOps.enrichStream(
          stream.select("event_id", "user_id"), dim, "user_id")
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          enriched.select("event_id", "user_id", "segment"),
          new graft.connect.ParquetConnector(tmp.toString), "enriched",
          checkpointDir = s"$tmp/_checkpoint")
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the " +
              "per-batch stream-static join path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/enriched.parquet")
        .groupBy("segment")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("segment")
    },

    // The SQL FUNCTION REGISTRATION surface gated end-to-end: register
    // graft's native expressions on the live session, then compute
    // through `spark.sql` TEXT — the route a SQL-only user takes
    // (GraftExtensions / GraftFunctions.register). The kernels themselves
    // are gated elsewhere (text_entropy, dedup_jarowinkler); this gate
    // pins that the registered names resolve and run the same arithmetic.
    "sql_functions" -> { (spark, dir) =>
      graft.GraftFunctions.register(spark)
      docs(spark, dir).createOrReplaceTempView("sqlfn_docs")
      spark.sql("""
        SELECT doc_id,
          char_entropy(text) AS entropy,
          round(jaro_winkler_sim(lang, 'en'), 6) + 0d AS jw_en
        FROM sqlfn_docs ORDER BY doc_id""")
    },

    // The BehaviorTransform -> AggStateTransform -> DataQualityTransform
    // declarative wrappers driven END-TO-END from parsed HOCON (the
    // pipeline_e2e convention): debounce the event stream, fold the kept
    // rows into mergeable per-user aggregate state (exact fixed-point
    // value sums), assert DQ rules over the state, and ship a final
    // readout that depends on all three stages — the config surface the
    // round-12 verdict listed as spec-only, now oracle-gated.
    "stage_behavior_chain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      events(spark, dir).createOrReplaceTempView("st13_events")
      val conf = s"""
        stages = [
          { type = BehaviorTransform, name = deb, method = debounce
            inputView = st13_events, outputView = st13_deb
            windowSeconds = 600 }
          { type = SqlTransform, name = prep
            sql = "SELECT user_id, round(value * 1048576.0) AS vfp FROM st13_deb"
            outputView = st13_prep }
          { type = AggStateTransform, name = state, method = state
            inputView = st13_prep, outputView = st13_state
            keys = [user_id], sumCols = [vfp] }
          { type = DataQualityTransform, name = dq, method = rules
            inputView = st13_state, outputView = st13_dq
            rules { nonneg = "n >= 1" } }
          { type = SqlTransform, name = out
            sql = \"\"\"SELECT s.user_id, s.n,
                CAST(s.sum_vfp AS DOUBLE) / 1048576.0 AS sum_value,
                r.n_violations, r.n_rows
              FROM st13_state s
              CROSS JOIN (SELECT n_violations, n_rows FROM st13_dq
                          WHERE rule_name = 'nonneg') r\"\"\"
            outputView = st13_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) =>
          graft.pipeline.Runner.run(p).get.orderBy("user_id")
      }
    },

    // The round-14/16 statistics family reached from PARSED CONFIG: the
    // ab_segments composition (per-segment two-proportion z → BH FDR →
    // join) as a declarative DriftTransform chain. The config surface
    // must hash-match its direct-API twin, so the oracle is the
    // ab_segments oracle verbatim.
    "stage_stats_chain" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      Tables.eventsRaw(spark, dir).createOrReplaceTempView("st17_events")
      val conf = s"""
        stages = [
          { type = SqlTransform, name = prep
            sql = \"\"\"SELECT
                CAST(((ts DIV 3600000000) % 24) DIV 4 AS STRING) AS seg,
                concat('g', CAST(user_id % 2 AS STRING)) AS arm,
                (event_type = 'purchase') AS s
              FROM st17_events\"\"\"
            outputView = st17_prep }
          { type = DriftTransform, name = seg, method = segments
            inputView = st17_prep, outputView = st17_per
            segCol = seg, groupCol = arm, successCol = s
            armA = g0, armB = g1 }
          { type = DriftTransform, name = bh, method = bh
            inputView = st17_per, outputView = st17_bh
            idCol = segment, pCol = p_value, alpha = 0.05 }
          { type = SqlTransform, name = out
            sql = \"\"\"SELECT p.segment, p.n_a, p.k_a, p.n_b, p.k_b,
                p.rate_a, p.rate_b, p.z, p.p_value, b.rank, b.reject
              FROM st17_per p LEFT JOIN st17_bh b USING (segment)
              ORDER BY p.segment\"\"\"
            outputView = st17_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) => graft.pipeline.Runner.run(p).get
      }
    },

    // The ZorderTransform declarative wrapper with the N-column `cols`
    // list (OPTIMIZE ZORDER BY parity), parsed from HOCON — same layout
    // semantics as zorder_layout3, so the oracle is shared verbatim.
    "stage_zorder3" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val conf = s"""
        stages = [
          { type = Execute, name = mkview
            sql = \"\"\"CREATE OR REPLACE TEMPORARY VIEW st13_li AS
              SELECT l_partkey AS x, l_suppkey AS y,
                CAST(l_quantity AS BIGINT) AS q,
                l_orderkey * 10000 + l_linenumber AS id
              FROM parquet.`$dir/lineitem.parquet`\"\"\" }
          { type = ZorderTransform, name = layout, method = manifest
            inputView = st13_li, outputView = st13_manifest
            cols = [x, y, q], idCol = id
            blockSize = $ZBlock, bits = $ZBits }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) =>
          graft.pipeline.Runner.run(p).get.orderBy("block_id")
      }
    },

    // The MultimodalTransform declarative wrapper from parsed HOCON:
    // attach typed binary payloads, then the payload-meta pass — final
    // shape matches the multimodal byte_len/digest contract.
    "stage_multimodal" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      docs(spark, dir).createOrReplaceTempView("st13_docs")
      val conf = s"""
        stages = [
          { type = MultimodalTransform, name = attach, method = attach
            inputView = st13_docs, outputView = st13_mm
            idCol = doc_id, textCol = text, metaCols = [lang, n_chars] }
          { type = MultimodalTransform, name = meta, method = meta
            inputView = st13_mm, outputView = st13_meta }
          { type = SqlTransform, name = out
            sql = "SELECT doc_id, byte_len, digest FROM st13_meta"
            outputView = st13_mm_out }
        ]"""
      graft.pipeline.Parser.parse(conf,
        Map("default" -> new graft.connect.ParquetConnector(dir))) match {
        case Left(errs) =>
          throw new IllegalArgumentException(errs.mkString("; "))
        case Right(p) =>
          graft.pipeline.Runner.run(p).get.orderBy("doc_id")
      }
    },

    // TRUE streaming throttle, batch-verified (the streaming_state
    // convention): events split into ts-ordered file groups so each key's
    // rows arrive across micro-batches in event-time order (the
    // documented delivery contract), flatMapGroupsWithState holds the
    // last-kept micros per key, and the final kept set must equal the
    // batch Behavior.throttle oracle exactly.
    "streaming_throttle" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      import spark.implicits._
      val tmp = scratchDir("graft_sthrottle")
      rmrf(tmp.resolve("kept.parquet")); rmrf(tmp.resolve("_checkpoint"))
      val in = tmp.resolve("in")
      rmrf(in)
      val ev = Tables.eventsRaw(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
      // three sequential appends split by global ts terciles: file
      // modification order == event-time order, so per-key delivery
      // across micro-batches is in order by construction
      val cuts = ev.stat.approxQuantile("ts", Array(0.33, 0.66), 0.0)
      val slices = Seq(
        ev.where(col("ts") < cuts(0)),
        ev.where(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        ev.where(col("ts") >= cuts(1)))
      slices.foreach { s =>
        s.coalesce(1).write.mode("append").parquet(in.toString)
        Thread.sleep(5) // distinct file mtimes pin the processing order
      }
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        val stream = scope.spark.readStream
          .schema("user_id long, ts long, event_id long")
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
          .as[(Long, Long, Long)]
        implicit val s: SparkSession = scope.spark
        val kept = graft.streaming.StreamingOps
          .throttleStream(stream, gapSeconds = 600)
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          kept.toDF("user_id", "ts", "event_id"),
          new graft.connect.ParquetConnector(tmp.toString), "kept",
          checkpointDir = s"$tmp/_checkpoint",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Append())
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the " +
              "cross-batch throttle state path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/kept.parquet")
        .select("user_id", "ts", "event_id")
        .orderBy("event_id")
    },

    "streaming_state" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      import spark.implicits._
      val tmp = scratchDir("graft_sstate")
      // the sink is APPEND-mode: clear the previous invocation's output
      rmrf(tmp.resolve("counts.parquet")); rmrf(tmp.resolve("_checkpoint"))
      val in = tmp.resolve("in")
      Tables.eventsRaw(spark, dir).repartition(3)
        .write.parquet(in.toString)
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        val stream = scope.spark.readStream
          .schema(Tables.eventsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
        val typed = stream.select(col("user_id").cast("string")).as[String]
          .map((_, 1L))
        val running = StreamingOps.runningCountsPerKey(typed)(scope.spark)
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          running.toDF("user_id", "running_total"),
          new graft.connect.ParquetConnector(tmp.toString), "counts",
          checkpointDir = s"$tmp/_checkpoint",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the " +
              "cross-batch mapGroupsWithState path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/counts.parquet")
        .groupBy(col("user_id").cast("long").as("user_id"))
        .agg(max("running_total").as("n_events"))
        .orderBy("user_id")
    },

    // TRUE streaming sessionization, batch-verified: the events table
    // streams in as three micro-batches through session_window (30 min
    // gap) in Complete mode — the round-robin file split scatters a
    // user's events across batches, so the state store must MERGE
    // sessions when a bridging event arrives late. Complete mode holds
    // every session, so the final sink equals the batch lag+cumsum
    // islands form, which is exactly what the oracle replays (gap logic
    // at MICROSECOND precision on both sides — Spark's session_window
    // operates on the us timestamps, so the oracle must not round to ms
    // before comparing against the gap).
    "streaming_session" -> { (spark, dir) =>
      implicit val c: graft.pipeline.PipelineContext =
        graft.pipeline.PipelineContext(spark)
      val tmp = scratchDir("graft_ssess")
      val in = tmp.resolve("in")
      Tables.eventsRaw(spark, dir).repartition(3)
        .write.parquet(in.toString)
      graft.util.Fixpoint.scoped(spark, StatePartitions, aqe = true) { scope =>
        val stream = scope.spark.readStream
          .schema(Tables.eventsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
          .withColumn("ts", timestamp_micros(col("ts")))
        // the watermark is sized far past the data range (the
        // streaming_dedup pattern): session_window DROPS late input rows
        // even in Complete mode (measured: a 2h watermark lost 3314/10000
        // events to the round-robin file split), and a gate result must
        // not depend on which file a row landed in
        val sess = StreamingOps.sessionWindows(stream, "ts", "user_id",
          gap = "30 minutes", watermark = Some("100000 hours"))
        val q = graft.streaming.StreamingSink.foreachBatchLoad(
          sess.select(col("key").as("user_id"),
            unix_millis(col("session_start")).as("session_start_ms"),
            col("n_events")),
          new graft.connect.ParquetConnector(tmp.toString), "sessions",
          checkpointDir = s"$tmp/_checkpoint",
          mode = org.apache.spark.sql.SaveMode.Overwrite,
          options = Map("confirm.truncate" -> "true"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
        try {
          q.processAllAvailable()
          val batches = q.recentProgress.count(_.numInputRows > 0)
          require(batches >= 3,
            s"expected >= 3 data micro-batches, saw $batches — the " +
              "cross-batch session-merge path was not exercised")
        } finally {
          q.stop()
          rmrf(in); rmrf(tmp.resolve("_checkpoint"))
        }
      }
      spark.read.parquet(s"$tmp/sessions.parquet")
        .orderBy("user_id", "session_start_ms")
    },

    // Behavioral analytics family (ops/Behavior.scala): the classic
    // product-analytics trio over the events table.
    "events_funnel" -> { (spark, dir) =>
      Behavior.funnel(events(spark, dir), "ts", "user_id", "event_type",
          FunnelSteps)
        .orderBy("step_idx")
    },

    "events_cohort" -> { (spark, dir) =>
      Behavior.cohortRetention(events(spark, dir), "ts", "user_id")
        .orderBy("cohort_week", "week_offset")
    },

    "events_transitions" -> { (spark, dir) =>
      Behavior.transitions(events(spark, dir), "ts", "user_id",
          "event_type", "event_id")
        .orderBy("prev_type", "next_type")
    },

    // Data-quality family (ops/DataQuality.scala): one-pass rule report
    // and blocked record-linkage scoring.
    "dq_rules" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      DataQuality.checkRules(li, Seq(
        "qty_in_1_45" -> col("l_quantity").between(1, 45),
        "discount_max_8pct" -> (col("l_discount") <= 0.08),
        "price_positive" -> (col("l_extendedprice") > 0),
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "shipdate_present" -> col("l_shipdate").isNotNull))
        .orderBy("rule_name")
    },

    "linkage_score" -> { (spark, dir) =>
      DataQuality.linkageScore(
          spark.read.parquet(s"$dir/customer.parquet"),
          "c_custkey", "c_nationkey",
          fuzzyFields = Seq("c_name" -> LinkNameW),
          exactFields = Seq("c_mktsegment" -> LinkSegW),
          minScore = LinkMinScore)
        .orderBy("id_a", "id_b")
    },

    // Offline ranking evaluation: a tf-ranked run per query term scored
    // against tf>=threshold qrels — NDCG discounts are plan-time
    // fixed-point literals, so no engine evaluates a log.
    "retrieval_eval" -> { (spark, dir) =>
      val tf = Retrieval.postings(docs(spark, dir), "doc_id", "text")
        .where(col("term").isInCollection(Bm25Terms))
        .select(col("term").as("query_id"), col("doc_id"), col("tf"))
      val run = tf.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("tf").desc, col("doc_id"))).cast("long"))
      val qrels = tf.where(col("tf") >= EvalRelTf)
        .select("query_id", "doc_id")
      Retrieval.rankEval(run, qrels, EvalK).orderBy("query_id")
    },

    // Funnel with a conversion deadline: each step must land within
    // FunnelGapSec of the previous step's reach time.
    "events_funnel_deadline" -> { (spark, dir) =>
      Behavior.funnel(events(spark, dir), "ts", "user_id", "event_type",
          FunnelSteps, maxGapSeconds = Some(FunnelGapSec))
        .orderBy("step_idx")
    },

    // Linear multi-touch attribution: each purchase splits its value
    // equally (in exact micro-units) across the user's clicks in the
    // trailing window.
    "events_attribution" -> { (spark, dir) =>
      Behavior.linearAttribution(events(spark, dir), "ts", "user_id",
          "event_type", "event_id", "value",
          touchType = "click", convType = "purchase",
          windowSeconds = AttrWindowSec)
        .orderBy("touch_id")
    },

    // Recency-weighted credit beside the linear model: same window, a
    // 15-minute half-life.
    "events_attribution_decay" -> { (spark, dir) =>
      Behavior.timeDecayAttribution(events(spark, dir), "ts", "user_id",
          "event_type", "event_id", "value",
          touchType = "click", convType = "purchase",
          windowSeconds = AttrWindowSec,
          halfLifeSeconds = AttrHalfLifeSec)
        .orderBy("touch_id")
    },

    // Degree assortativity of the part-co-occurrence graph (the
    // lpa/triangle edge set).
    "graph_assortativity" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.assortativity(Graph.coOccurrenceEdges(
        li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup))
    },

    // Local clustering coefficients over the same co-occurrence graph
    // as triangle_count — the [0,1] neighborhood-density readout a
    // link-farm / community analysis thresholds on.
    "graph_clustering" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.clusteringCoefficients(Graph.coOccurrenceEdges(
          li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup))
        .orderBy("node")
    },

    // Reciprocity of the behavioral transition graph (distinct
    // prev-type -> next-type edges per user timeline): the mutuality
    // share an undirected projection erases.
    "graph_reciprocity" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = events(spark, dir)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val edges = ev
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("prev").as("src"), col("event_type").as("dst"))
      Graph.reciprocity(edges)
    },

    // Degree-tail power-law exponent (Clauset-Shalizi-Newman MLE) of
    // the co-occurrence graph — the hub-domination readout partitioning
    // and sampling strategies need.
    "graph_degree_alpha" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.degreePowerLaw(Graph.coOccurrenceEdges(
        li, "l_orderkey", "l_partkey", maxGroup = TriMaxGroup), dMin = 2)
    },

    // Forecast scorecard: per-type hourly volumes, forecast = mean of
    // the two preceding hours (warmup rows dropped both sides).
    "events_forecast_eval" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      val series = ev.groupBy(col("event_type").as("key"),
          expr("ts div 3600000000").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy("hour")
      val withF = series.withColumn("fc",
          (lag("cnt", 1).over(w) + lag("cnt", 2).over(w)).cast("double")
            / lit(2d))
        .where(col("fc").isNotNull)
      TimeSeries.forecastEval(withF, "key", "hour", "cnt", "fc")
        .orderBy("key")
    },

    "text_charclass" -> { (spark, dir) =>
      TextAnalysis.charClassMix(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Unicode-script mix per doc over a deterministic mixed-script
    // augmentation (a Cyrillic/CJK/digit suffix keyed on doc_id — the
    // urlDocs convention — so the non-Latin counters are actually
    // exercised; both engines build the identical string).
    "text_script_mix" -> { (spark, dir) =>
      val d = docs(spark, dir).select(col("doc_id"),
        concat(col("text"), lit(" "),
          expr("repeat('ф', CAST(doc_id % 3 AS INT))"),
          expr("repeat('中', CAST(doc_id % 2 AS INT))"),
          expr("repeat('7', CAST(doc_id % 4 AS INT))")).as("text"))
      TextAnalysis.scriptMix(d, "doc_id", "text").orderBy("doc_id")
    },

    // Join-skew pre-flight: the keys that would dominate a self-join on
    // l_partkey, by exact output contribution.
    "join_skew" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Profile.joinSkew(li, "l_partkey", li, "l_partkey", k = SkewTopK)
    },

    // Incremental-view contract: merge of two shard states equals the
    // direct aggregate of the union (exact decimal sums).
    "agg_state_merge" -> { (spark, dir) =>
      val ev = events(spark, dir)
      val s1 = Maintenance.aggState(ev.where(col("event_id") % 2 === 0),
        Seq("event_type"), Seq("value"))
      val s2 = Maintenance.aggState(ev.where(col("event_id") % 2 === 1),
        Seq("event_type"), Seq("value"))
      Maintenance.mergeAggStates(Seq(s1, s2), Seq("event_type"))
        .select(col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // Zipf head coverage of the corpus vocabulary.
    "text_head_coverage" -> { (spark, dir) =>
      TextAnalysis.headCoverage(docs(spark, dir), "text", k = HeadK)
    },

    // Per-user one-sided CUSUM drift detection in exact micro-units.
    "events_cusum" -> { (spark, dir) =>
      TimeSeries.cusum(events(spark, dir), "ts", "user_id", "event_id",
          "value", target = CusumTarget, slack = CusumSlack,
          threshold = CusumThreshold)
        .orderBy("event_id")
    },

    // Hourly activity utilization from per-user [first, last+1us) spans.
    "events_utilization" -> { (spark, dir) =>
      val iv = events(spark, dir).groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          (max(unix_micros(col("ts"))) + 1).as("end_us"))
      TimeSeries.intervalUtilization(iv, "user_id", "start_us", "end_us",
          bucketSeconds = UtilBucketSec)
        .orderBy("user_id", "bucket_start_us")
    },

    // Personalized PageRank: teleport mass pinned to the supplier side
    // of the same bipartite graph as the pagerank gate.
    "pagerank_personalized" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ords = spark.read.parquet(s"$dir/orders.parquet")
      Graph.personalizedPagerank(
          Graph.supplierCustomerEdges(li, ords),
          seedPred = col("node").startsWith("s"))
        .orderBy("node")
    },

    // Common-neighbors link prediction over the same co-occurrence graph
    // as triangle_count.
    "graph_link_pred" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.linkPrediction(
          Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
            maxGroup = TriMaxGroup),
          maxDegree = LinkPredMaxDeg, minCommon = LinkPredMinCommon)
        .orderBy("node_a", "node_b")
    },

    // Distributional drift family (ops/Drift.scala): exact-integer KS
    // over a numeric column, per-category TV decomposition, fixed-point
    // embedding centroid drift — yesterday's corpus vs today's.
    "drift_ks" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      Drift.ksStatistic(
        o.where(col("o_orderdate") < cut),
        o.where(col("o_orderdate") >= cut),
        "o_totalprice")
    },

    // drift_ks plus the Smirnov asymptotic significance: lambda scaling
    // and the 100-term Kolmogorov series, pinned order.
    "drift_ks_test" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      Drift.ksTest(
        o.where(col("o_orderdate") < cut),
        o.where(col("o_orderdate") >= cut),
        "o_totalprice")
    },

    // Per-priority-arm KS drift between the early/late order halves —
    // WHICH stratum's price distribution moved: one exact-D KS test per
    // group (per-group window CDF), Smirnov lambda + Kolmogorov p.
    "drift_ks_grouped" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      Drift.ksByGroup(
          o.where(col("o_orderdate") < cut),
          o.where(col("o_orderdate") >= cut),
          "o_orderpriority", "o_totalprice")
        .orderBy("grp")
    },

    // Per-priority-arm Wasserstein drift over the same halves — HOW FAR
    // each stratum's price distribution moved, in price units (the KS
    // saturates at the worst point; W1 integrates the move).
    "drift_wasserstein_grouped" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      Drift.wassersteinByGroup(
          o.where(col("o_orderdate") < cut),
          o.where(col("o_orderdate") >= cut),
          "o_orderpriority", "o_totalprice")
        .orderBy("grp")
    },

    // Deterministic randomization test: is the purchase-vs-click value
    // gap within relabeling noise? Exact fixed-point means, hash-drawn
    // permutation labels, add-one p-value.
    // Chi-square independence of event_type x hour-of-day bucket: is
    // activity mix time-dependent? Exact cell counts, fixed-point
    // cross-cell sum, Cramer's V effect size.
    "ab_chi2_independence" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
        .select(col("event_type"),
          expr("(ts div 3600000000) % 24").as("hour"))
      val df = Drift.chiSquareIndependence(ev, "event_type", "hour")
      // dof handoff for the dump-time oracle series (local one-row DF)
      StatTrained.chi2Dof = Some(df.select("dof").head.getLong(0).toInt)
      df
    },

    // Fisher's EXACT 2x2 test — the valid small-count companion to
    // ab_chi2_independence (chi2 needs expected cells >= 5; rare-event
    // arms violate that): low-key regions (0-1) vs nation-key parity on
    // the 25-row nation table. Exact hypergeometric two-sided p from
    // integer comparisons on the x2^20 log-factorial grid; the oracle
    // replays the identical table from dump-time literals.
    "ab_fisher" -> { (spark, dir) =>
      val nat = spark.read.parquet(s"$dir/nation.parquet")
        .select((col("n_regionkey") <= 1).as("x"),
          (col("n_nationkey") % 2 === 0).as("y"))
      val df = Drift.fisherExact(nat, "x", "y")
      // table-size handoff for the dump-time literal table (local DF)
      StatTrained.fisherN = Some(df.select("n").head.getLong(0).toInt)
      df
    },

    // Canonical URL normalization over deterministic messy crawl URLs:
    // fragment strip, scheme/host lowercase, default-port strip,
    // trailing-slash strip, tracking-param strip (order-preserving).
    "url_normalize" -> { (spark, dir) =>
      Url.normalize(urlDocs(spark, dir), "url")
        .select("doc_id", "url", "url_norm")
        .orderBy("doc_id")
    },

    // Per-domain doc/token share report off the canonical host — the
    // mixture-policy input table feeding stratum_token_cap/rebalance.
    "domain_mix" -> { (spark, dir) =>
      Url.domainMix(urlDocs(spark, dir), "url", "n_chars")
        .orderBy("domain")
    },

    // Empirical-Bayes per-domain quality: m-estimate shrinkage toward
    // the corpus pass rate — small domains read ~p0, big domains keep
    // their own rate (the keep/block ranking that raw rates thrash on).
    "domain_quality" -> { (spark, dir) =>
      Url.domainQuality(
          urlDocs(spark, dir).withColumn("good", col("n_chars") >= 306),
          "url", "good")
        .orderBy("domain")
    },

    // Wilcoxon signed-rank over PAIRED per-user means: did each user's
    // value shift between the corpus's first and second time half?
    // Fixed-point per-half means, zero diffs drop, midranks on |d|.
    "ab_wilcoxon" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).where(col("value").isNotNull)
      val mid = ev.agg(expr("(min(ts) + max(ts)) div 2").as("__m"))
      val paired = ev.crossJoin(broadcast(mid))
        .select(col("user_id"), (col("ts") <= col("__m")).as("__h1"),
          round(col("value") * 1048576d).cast("long").as("__vfp"))
        .groupBy("user_id")
        .agg(sum(when(col("__h1"), col("__vfp"))).as("__s1"),
          sum(when(col("__h1"), 1L).otherwise(0L)).as("__n1"),
          sum(when(!col("__h1"), col("__vfp"))).as("__s2"),
          sum(when(!col("__h1"), 1L).otherwise(0L)).as("__n2"))
        .where(col("__n1") > 0 && col("__n2") > 0)
        .select(
          (col("__s1").cast("double") / col("__n1") / 1048576d)
            .as("before"),
          (col("__s2").cast("double") / col("__n2") / 1048576d)
            .as("after"))
      Drift.wilcoxonSignedRank(paired, "before", "after")
    },

    // Exact Mann-Whitney U between purchase and click values: rank-based
    // stochastic-ordering test (outlier-immune, unlike the mean
    // permutation test), exact integer 2U with midrank ties, tie-
    // corrected normal z.
    "ab_mannwhitney" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.mannWhitney(
        ev.where(col("event_type") === "purchase").select("value"),
        ev.where(col("event_type") === "click").select("value"),
        "value")
    },

    // Hodges–Lehmann shift + Moses distribution-free CI between the
    // purchase and click value distributions — the value-units effect
    // size beside ab_mannwhitney's p/δ. Values rounded to integers so
    // the distinct-value pair table stays bounded at any sf (the
    // operator's documented quantization contract).
    "ab_hodges_lehmann" -> { (spark, dir) =>
      val ev = events(spark, dir)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(round(col("value")).as("value"))
      Drift.hodgesLehmann(side("purchase"), side("click"), "value")
    },

    // Kruskal–Wallis k-sample rank test across the five order-priority
    // arms on order value — the multi-arm completion of the rank family:
    // joint midrank ranking, exact integer rank sums, tie-corrected H,
    // ANY-dof chi2 survival p (dof = 4 here; the oracle unrolls the
    // series from the observed arm count at dump time).
    "ab_kruskal" -> { (spark, dir) =>
      val df = Drift.kruskalWallis(
          spark.read.parquet(s"$dir/orders.parquet"),
          "o_orderpriority", "o_totalprice")
        .orderBy("grp")
      // dof handoff for the dump-time oracle series (local k-row DF)
      StatTrained.kruskalDof = Some(df.select("dof").head.getLong(0).toInt)
      df
    },

    // One-way ANOVA F over the same five arms — the parametric sibling
    // of ab_kruskal (means vs ranks; disagree = look at the tails):
    // exact fixed-point sufficient statistics, pinned-order F + eta².
    "ab_anova" -> { (spark, dir) =>
      Drift.anovaF(
          spark.read.parquet(s"$dir/orders.parquet"),
          "o_orderpriority", "o_totalprice")
        .orderBy("grp")
    },

    // Brown–Forsythe (median-centered Levene): do the arms share a
    // SPREAD? The homogeneity precondition check for ab_anova and a
    // variance-drift readout in its own right.
    "ab_levene" -> { (spark, dir) =>
      Drift.brownForsythe(
          spark.read.parquet(s"$dir/orders.parquet"),
          "o_orderpriority", "o_totalprice")
        .orderBy("grp")
    },

    // Welch's unequal-variance t between purchase and click values —
    // the mean comparison that does not assume equal arm variances;
    // exact fixed-point moments, Welch–Satterthwaite dof.
    "ab_welch" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.welchT(
        ev.where(col("event_type") === "purchase").select("value"),
        ev.where(col("event_type") === "click").select("value"),
        "value")
    },

    // Delta-method z for a RATIO metric (purchase value per event,
    // per USER — the randomization unit): numerator and denominator
    // are both per-unit sums, so the variance carries their
    // covariance — the term welchT on per-unit ratios drops. The
    // per-user numerator snaps each event value to ×2^20 longs BEFORE
    // summing (exact under any accumulation order — the engine-wide
    // convention), so the unit table replays bit-identically.
    "ab_ratio_delta" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      val units = ev
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase",
            round(col("value") * 1048576d).cast("long"))
          .otherwise(0L)) / 1048576d).as("num"),
          count(lit(1)).cast("double").as("den"))
        .select(concat(lit("g"), (col("user_id") % 2).cast("string"))
          .as("arm"), col("num"), col("den"))
      Drift.ratioDelta(units, "arm", "num", "den", "g0", "g1")
    },

    // Equivalence (TOST) between purchase and click values at ±2.0 —
    // "provably within the margin" with error control, the launch
    // question a flat welchT cannot answer; exact one-sided Student-t
    // ps at the Welch dof via the pinned incomplete-beta kernel.
    "ab_tost" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.welchTost(
        ev.where(col("event_type") === "purchase").select("value"),
        ev.where(col("event_type") === "click").select("value"),
        "value", margin = 2.0)
    },

    // Sensitivity readout for the same comparison: MDE at (α=0.05,
    // power=0.8), achieved power against the observed difference, and
    // the equal-n redesign — separates "no effect" from "underpowered".
    "ab_power" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.powerMde(
        ev.where(col("event_type") === "purchase").select("value"),
        ev.where(col("event_type") === "click").select("value"),
        "value")
    },

    // Yuen's 20%-trimmed-mean robust t on the same comparison — the
    // mean-style effect the tail cannot own (welchT on heavy-tailed
    // value metrics is driven by outliers); exact fixed-point order
    // statistics and winsorized moments, Student-t p at the Yuen dof.
    "ab_yuen" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.yuenTrimmed(
        ev.where(col("event_type") === "purchase").select("value"),
        ev.where(col("event_type") === "click").select("value"),
        "value", trim = 0.2)
    },

    // Difference-in-differences on the event values: arm by user
    // parity, period by time-of-day half — the non-randomized causal
    // readout (nets out both pre-existing group differences and the
    // time trend under parallel trends), cuped's observational sibling.
    "ab_did" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).select(
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("arm"),
        when(expr("(ts div 3600000000) % 24") < 12, "pre")
          .otherwise("post").as("period"),
        col("value"))
      Drift.did(ev, "arm", "period", "value", "g0", "g1", "pre", "post")
    },

    // Greedy k-center coreset over the embedding corpus (Gonzalez
    // farthest-point): 6 maximally-diverse real vectors + the cover
    // radius — the global-diversity selection primitive beside
    // embed_medoids' per-cell representatives.
    "embed_kcenter" -> { (spark, dir) =>
      Similarity.kcenter(
          spark.read.parquet(s"$dir/embeddings.parquet"), k = 6)
        .orderBy("rank")
    },

    // DBSCAN density clustering over the cosine ε-neighbor graph
    // (banded LSH candidates, exact cosine verify): organic clusters
    // of any shape + an explicit NOISE tier — the two readouts the
    // centroid family (kmeans/medoids/kcenter) structurally cannot
    // give. All three roles and 3 clusters live at this config.
    "embed_dbscan" -> { (spark, dir) =>
      Similarity.dbscan(embs(spark, dir), DbscanThreshold, DbscanMinPts,
          maxBucket = EmbedMaxBucket)
        .orderBy("vec_id")
    },

    // Precision/recall/F1 of the banded near-dup pairs against the
    // embeddings' ground-truth labels — the dedup-DECISION audit the
    // family lacked (ann_recall audits the index, not the decision);
    // the true-pair denominator comes from group SIZES, never a
    // materialized pair space.
    "dedup_pair_quality" -> { (spark, dir) =>
      Similarity.pairQuality(embs(spark, dir), DbscanThreshold, "label",
        maxBucket = EmbedMaxBucket)
    },

    // Simplified silhouette over the deterministic k-means cells (same
    // training as embed_kmeans/similarity_ivf): per-cell cohesion vs
    // nearest-other-centroid separation — the split/merge quality gauge
    // for every cell-based structure the engine builds.
    "embed_silhouette" -> { (spark, dir) =>
      Similarity.silhouette(embs(spark, dir), centroidEvery = 100,
          iters = 2)
        .orderBy("cell")
    },

    // Cochran–Mantel–Haenszel over user-derived strata: the
    // Simpson-safe pooled conversion effect (one common-effect test
    // after controlling for the strata, vs ab_segments' per-stratum
    // readouts), plus the Mantel–Haenszel pooled odds ratio.
    "ab_cmh" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).select(
        expr("(user_id div 2) % 4").cast("string").as("seg"),
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("arm"),
        (col("event_type") === "purchase").as("success"))
      Drift.cmh(ev, "seg", "arm", "success", "g0", "g1")
    },

    // McNemar's paired test between two deterministic document
    // classifiers evaluated on the SAME documents — only the
    // discordant pairs carry information (the unpaired z wastes the
    // pairing); both the raw and continuity-corrected chi2(1) ps.
    "classify_mcnemar" -> { (spark, dir) =>
      Classify.mcnemar(
        docs(spark, dir).select(
          (col("doc_id") % 3 === 0).as("label"),
          (col("n_chars") % 2 === 0).as("pa"),
          (col("doc_id") % 2 === 0).as("pb")),
        "label", "pa", "pb")
    },

    // Split conformal interval for a per-priority mean-price model:
    // half-width q = the ceil((n+1)(1-alpha))-th smallest calibration
    // residual (distribution-free finite-sample coverage), audited on
    // a held-out slice. Train on even keys, calibrate on keys %4==1,
    // audit coverage on keys %4==3.
    "classify_conformal" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val model = o.where(col("o_orderkey") % 2 === 0)
        .groupBy("o_orderpriority")
        .agg(((sum(round(col("o_totalprice") * 1048576d).cast("long"))
          .cast("double") / count(lit(1)).cast("double")) / 1048576d)
          .as("yhat"))
      def slice(m: Int) = o.where(col("o_orderkey") % 4 === m)
        .join(broadcast(model), "o_orderpriority")
        .select(col("o_totalprice").as("y"), col("yhat"))
      Classify.conformal(slice(1), slice(3), "y", "yhat", alpha = 0.1)
    },

    // Mutual information + NMI between document language and source —
    // the information-theoretic association readout (feature-selection
    // / label-leakage number) next to ab_chi2_independence.
    "profile_mi" -> { (spark, dir) =>
      Drift.mutualInformation(docs(spark, dir), "lang", "source")
    },

    // Corpus distinct-n diversity per language (distinct-1/2/3): the
    // template-spam / mode-collapse readout across a training slice.
    "text_distinct_n" -> { (spark, dir) =>
      TextAnalysis.distinctN(docs(spark, dir), "text", "lang")
        .orderBy("grp", "n")
    },

    // Poisson-bootstrap CI for the mean purchase value: each resample
    // weights every row Poisson(1) via the uniform pre-modulo hash
    // domain; CI = percentile interval over the resample means.
    "ab_bootstrap" -> { (spark, dir) =>
      Drift.bootstrapMeanCI(
        events(spark, dir).where(col("event_type") === "purchase")
          .select("event_id", "value"),
        "event_id", "value", nBoot = AbPerms, salt = "bs")
    },

    // Poisson-bootstrap CI on the LIFT itself (purchase-minus-click
    // mean difference): both arms re-weighted per resample, percentile
    // interval over the mean differences — the uncertainty readout an
    // A/B decision actually turns on.
    "ab_bootstrap_lift" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.bootstrapLiftCI(
        ev.where(col("event_type") === "purchase")
          .select("event_id", "value"),
        ev.where(col("event_type") === "click")
          .select("event_id", "value"),
        "event_id", "value", nBoot = AbPerms, salt = "bl")
    },

    // Benjamini-Hochberg FDR over a p-value table: 20 planted signals
    // (tiny p) against a uniform null background (the raw 32-bit hash
    // domain normalized) — the step-up rule must pick up the plants and
    // pass the nulls. Distributed rank, no global window.
    "ab_bh_adjust" -> { (spark, dir) =>
      import graft.functions.{TextFunctions => T}
      val p = docs(spark, dir).select(col("doc_id"),
        when(col("doc_id") < 20,
          (col("doc_id") + 1).cast("double") / 1e6)
          .otherwise(T.h32raw(col("doc_id").cast("string"))
            .cast("double") / 4294967296.0).as("p"))
      Drift.bhAdjust(p, Seq("doc_id"), "p", alpha = 0.05)
        .orderBy("doc_id")
    },

    // Spearman rho of quantity vs extended price: monotone association
    // via distributed midranks + the exact fixed-point Pearson.
    "profile_spearman" -> { (spark, dir) =>
      Drift.spearman(spark.read.parquet(s"$dir/lineitem.parquet"),
        "l_quantity", "l_extendedprice")
    },

    // Per-group OLS: price ~ quantity per return flag — slope/intercept/
    // r2 from exact fixed-point sufficient statistics.
    "regress_group" -> { (spark, dir) =>
      Profile.linearFit(spark.read.parquet(s"$dir/lineitem.parquet"),
          "l_quantity", "l_extendedprice", Seq("l_returnflag"))
        .orderBy("l_returnflag")
    },

    "ab_permutation" -> { (spark, dir) =>
      val ev = events(spark, dir)
      Drift.meanPermutationTest(
        ev.where(col("event_type") === "purchase")
          .select("event_id", "value"),
        ev.where(col("event_type") === "click")
          .select("event_id", "value"),
        "event_id", "value", nPerms = AbPerms, salt = "ab")
    },

    // Kaplan-Meier over per-user lifetimes: duration = whole hours from a
    // user's first to last event; users still active inside the final
    // SurvivalCensorH hours of the corpus are censored, everyone else is
    // an observed churn event.
    "events_survival" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      val life = ev.groupBy("user_id")
        .agg(min("ts").as("__f"), max("ts").as("__l"))
      val units = life
        .crossJoin(broadcast(ev.agg(max("ts").as("__mx"))))
        .select(expr("(__l - __f) div 3600000000").as("life_h"),
          (col("__l") < col("__mx") - lit(SurvivalCensorH * 3600000000L))
            .as("__obs"))
      Behavior.kaplanMeier(units, "life_h", "__obs").orderBy("duration")
    },

    // CUPED adjustment: unit = user, pre-period metric = value sum in the
    // first CupedSplitDays days, experiment metric = value sum after,
    // arms split by user-id parity. DECIMAL(18,2) per-user sums keep the
    // unit metrics exact under any partitioning.
    "ab_cuped" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      val cutoff = col("__mn") + lit(CupedSplitDays * 86400000000L)
      val dec = "decimal(18,2)"
      val units = ev
        .crossJoin(broadcast(ev.agg(min("ts").as("__mn"))))
        .groupBy("user_id")
        .agg(
          sum(when(col("ts") < cutoff, col("value").cast(dec))
            .otherwise(lit(0).cast(dec))).cast("double").as("x"),
          sum(when(col("ts") >= cutoff, col("value").cast(dec))
            .otherwise(lit(0).cast(dec))).cast("double").as("y"))
        .select(concat(lit("g"), (col("user_id") % 2).cast("string"))
          .as("grp"), col("x"), col("y"))
      Drift.cuped(units, "grp", "x", "y").orderBy("group")
    },

    "text_readability" -> { (spark, dir) =>
      TextAnalysis.readability(docs(spark, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    "text_zipf" -> { (spark, dir) =>
      TextAnalysis.zipfFit(docs(spark, dir), "text", topN = ZipfTopN)
    },

    // Heaps' law vocabulary-growth curve + log-log fit: how fast does
    // NEW vocabulary arrive as the corpus grows — beta near 1 is token
    // soup, beta collapsing to 0 is a saturated source; the add-more-
    // of-this-source go/no-go beside text_zipf's frequency curve.
    "text_heaps" -> { (spark, dir) =>
      TextAnalysis.heapsLaw(docs(spark, dir), "doc_id", "text",
          checkpoints = 10)
        .orderBy("ckpt")
    },

    // Two-proportion z-test: purchase rate of the user-parity arms —
    // the conversion-rate readout with pooled-SE z, erfc p, and the
    // absolute/relative lift effect sizes.
    "ab_proportions" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
        .select(concat(lit("g"), (col("user_id") % 2).cast("string"))
          .as("arm"), (col("event_type") === "purchase").as("success"))
      Drift.proportionsZ(ev, "arm", "success", "g0", "g1")
    },

    // Per-segment Welch t with the EXACT Student-t p computed IN-PLAN
    // (the native codegen'd incomplete-beta expression — segment
    // cardinality can be large), chained into BH-FDR — the
    // continuous-metric twin of ab_segments.
    "ab_welch_segments" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).select(
        expr("((ts div 3600000000) % 24) div 4").cast("string").as("seg"),
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("arm"),
        col("value"))
      val per = Drift.welchBySegment(ev, "seg", "arm", "value",
        "g0", "g1")
      val bh = Drift.bhAdjust(per, Seq("segment"), "p_t", alpha = 0.05)
        .select(col("segment"), col("rank"), col("reject"))
      per.join(bh, Seq("segment"), "left").orderBy("segment")
    },

    // Always-valid sequential readout (mSPRT) over a pinned 8-look
    // schedule (3-hour buckets): the peeking-proof companion of
    // ab_proportions — p_seq is valid at EVERY look simultaneously,
    // so reading the dashboard daily costs no α.
    "ab_sequential" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).select(
        expr("((ts div 3600000000) % 24) div 3").as("look"),
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("arm"),
        (col("event_type") === "purchase").as("s"))
      Drift.sequentialMSPRT(ev, "look", "arm", "s", "g0", "g1")
    },

    // The continuous-metric sequential readout: always-valid p on the
    // cumulative mean difference of event VALUE over the same 8-look
    // schedule (tau^2 = 1.0 — value units², sized to dollar-scale
    // lifts).
    "ab_sequential_mean" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).select(
        expr("((ts div 3600000000) % 24) div 3").as("look"),
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("arm"),
        col("value"))
      Drift.sequentialMSPRTMean(ev, "look", "arm", "value", "g0", "g1",
        tauSq = 1.0)
    },

    // Segmented experiment readout with FDR control: per-4-hour-segment
    // two-proportion z (in-plan erfc p) chained into Benjamini-Hochberg
    // — with s segments, s·alpha trip by construction under the null,
    // so only the BH reject flag is decision-grade.
    "ab_segments" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir).select(
        expr("((ts div 3600000000) % 24) div 4").cast("string").as("seg"),
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("arm"),
        (col("event_type") === "purchase").as("s"))
      val per = Drift.proportionsBySegment(ev, "seg", "arm", "s",
        "g0", "g1")
      val bh = Drift.bhAdjust(per, Seq("segment"), "p_value",
          alpha = 0.05)
        .select(col("segment"), col("rank"), col("reject"))
      per.join(bh, Seq("segment"), "left").orderBy("segment")
    },

    // SRM guard: arms by user-id parity against the designed 1:1 split;
    // threshold = chi2(1 dof) critical value at alpha = 0.05.
    "ab_srm" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      Drift.srmCheck(
        ev.select(concat(lit("g"), (col("user_id") % 2).cast("string"))
          .as("arm")),
        "arm", Map("g0" -> 1.0, "g1" -> 1.0), SrmChi2Threshold)
        .orderBy("group")
    },

    // Mean-shift localization over each event type's hourly volume
    // series: where did the level step, and from what to what.
    "events_changepoint" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      val series = ev.groupBy(col("event_type"),
          expr("ts div 3600000000").as("hour"))
        .agg(count(lit(1)).as("cnt"))
      TimeSeries.changepoint(series, "event_type", "hour", "cnt")
        .orderBy("key")
    },

    // Vocabulary heavy changers between the doc-id-parity corpus halves:
    // which terms moved share the most.
    "heavy_change" -> { (spark, dir) =>
      val d = docs(spark, dir)
      TextAnalysis.heavyChangers(
        d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1),
        "text", HeavyChangeK)
    },

    // Surrogate keys stay join-stable: per-surrogate event counts and
    // exact value sums must replay identically from the raw ids.
    "pii_pseudonym" -> { (spark, dir) =>
      val ev = Tables.eventsRaw(spark, dir)
      Pii.pseudonymize(ev.select(col("user_id"), col("value")),
          Seq("user_id"), PseudoSalt)
        .groupBy(col("user_id").as("user_key"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("value_sum"))
        .orderBy("user_key")
    },

    "drift_tv" -> { (spark, dir) =>
      val ev = events(spark, dir)
      val cut = lit(DriftEventSplit).cast("timestamp")
      Drift.categoricalDrift(
          ev.where(col("ts") < cut),
          ev.where(col("ts") >= cut),
          "event_type")
        .orderBy("category")
    },

    // Population Stability Index of order value across the date split —
    // reference-snapshot quantile bins, epsilon-clamped shares, the
    // industry retrain/alarm score.
    "drift_psi" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      Drift.psi(
          o.where(col("o_orderdate") < cut),
          o.where(col("o_orderdate") >= cut),
          "o_totalprice", nBins = 10)
        .orderBy("bin")
    },

    // Streaming drift monitor: the current snapshot arrives as >= 3
    // micro-batches whose ONLY persisted footprint is an nBins-row
    // binned partial per batch (frozen reference bounds); the
    // accumulated store must replay the BATCH PSI bit-for-bit — the
    // drift_psi oracle verbatim on the same split.
    "streaming_drift" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      val ref = o.where(col("o_orderdate") < cut)
      val cur = o.where(col("o_orderdate") >= cut)
        .select(col("o_orderkey"), col("o_totalprice"))
      val interior = Drift.psiInteriorBounds(ref, "o_totalprice", 10)
      val tmp = scratchDir("graft_sdrift")
      rmrf(tmp)
      val in = tmp.resolve("in")
      cur.repartition(3).write.parquet(in.toString)
      val stream = spark.readStream
        .schema(spark.read.parquet(in.toString).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      val store = tmp.resolve("store").toString
      val q = graft.streaming.StreamingSink.foreachBatchDriftAppend(
        stream, "o_totalprice", interior, 10, store,
        checkpointDir = s"$tmp/_checkpoint")
      try {
        q.processAllAvailable()
        val batches = q.recentProgress.count(_.numInputRows > 0)
        require(batches >= 3,
          s"expected >= 3 data micro-batches, saw $batches — the " +
            "incremental drift-monitor path was not exercised")
      } finally {
        q.stop()
        rmrf(in); rmrf(tmp.resolve("_checkpoint"))
      }
      Drift.psiFromBinStore(ref, "o_totalprice", interior,
          spark.read.parquet(store), 10)
        .orderBy("bin")
    },

    // Jensen–Shannon divergence of the event-type mix across the same
    // split as drift_tv — surprisal-weighted drift TV cannot rank.
    "drift_jsd" -> { (spark, dir) =>
      val ev = events(spark, dir)
      val cut = lit(DriftEventSplit).cast("timestamp")
      Drift.jensenShannon(
        ev.where(col("ts") < cut),
        ev.where(col("ts") >= cut),
        "event_type")
    },

    // 1-D Wasserstein (earth mover's) distance of order value across
    // the date split — drift in the value's own units; distributed CDF
    // with boundary-stitched gaps, no global window.
    "drift_wasserstein" -> { (spark, dir) =>
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val cut = lit(DriftSplitDate).cast("timestamp")
      Drift.wasserstein1(
        o.where(col("o_orderdate") < cut),
        o.where(col("o_orderdate") >= cut),
        "o_totalprice")
    },

    "drift_centroid" -> { (spark, dir) =>
      val e = embs(spark, dir)
      Drift.centroidDrift(
          e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1))
        .orderBy("label", "d")
    },

    // Referential-integrity audit: two clean FKs plus two deliberately
    // restricted parents so the orphan counters exercise non-zero paths.
    "dq_referential" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val c = spark.read.parquet(s"$dir/customer.parquet")
      val p = spark.read.parquet(s"$dir/part.parquet")
      DataQuality.referentialCheck(Seq(
          ("lineitem_orders", li, "l_orderkey", o, "o_orderkey"),
          ("lineitem_part", li, "l_partkey", p, "p_partkey"),
          ("orders_open_customer", o.where(col("o_orderstatus") === "O"),
            "o_custkey", c, "c_custkey"),
          ("lineitem_orders_closed", li, "l_orderkey",
            o.where(col("o_orderstatus") =!= "O"), "o_orderkey")))
        .orderBy("fk_name")
    },

    // Functional dependency l_partkey -> l_suppkey (violated: parts have
    // several suppliers) — the approximate-FD profile.
    "dq_fd" -> { (spark, dir) =>
      DataQuality.fdCheck(spark.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_partkey"), "l_suppkey")
    },

    "profile_benford" -> { (spark, dir) =>
      Profile.benford(spark.read.parquet(s"$dir/orders.parquet"),
          "o_totalprice")
        .orderBy("digit")
    },

    // Systematic weighted sampling: SysN slots proportional to n_chars
    // over the salted-hash axis — Σ n_slots == SysN exactly.
    "sample_systematic" -> { (spark, dir) =>
      Sampling.systematicWeighted(docs(spark, dir), "doc_id", "n_chars",
          n = SysSlots, salt = SysSalt)
        .orderBy("doc_id")
    },

    // Per-user hourly rate cap: first RateCapK events per user-hour.
    "events_rate_cap" -> { (spark, dir) =>
      Behavior.rateCap(events(spark, dir), "ts", "user_id", "event_id",
          bucketSeconds = RateCapBucketSec, k = RateCapK)
        .select(col("event_id"), col("user_id"), col("bucket_start"),
          col("slot"))
        .orderBy("event_id")
    },

    // Full BPE merge learning: BpeMergeRounds rounds of argmax-merge over
    // the separator-framed symbol strings.
    "bpe_merges" -> { (spark, dir) =>
      TextAnalysis.bpeLearnMerges(docs(spark, dir), "text",
          rounds = BpeMergeRounds)
        .orderBy("merge_round")
    },

    // WordPiece merge learning (Schuster–Nakajima 2012): the BPE loop
    // with the LIKELIHOOD-RATIO score cnt(ab)/(cnt(a)·cnt(b)) — the
    // merge that most improves a unigram LM, not the most frequent.
    "wordpiece_merges" -> { (spark, dir) =>
      Wordpiece.learn(docs(spark, dir), "text", rounds = WpRounds)
        .orderBy("merge_round")
    },

    // Greedy longest-match WordPiece encoding under the fixed literal
    // piece set (## continuations; q/x/z continuations omitted so the
    // UNK path is exercised): per-doc word/token/unk counts.
    "wordpiece_encode" -> { (spark, dir) =>
      Wordpiece.encode(docs(spark, dir), "doc_id", "text", WpPieces,
          WpMaxPiece)
        .orderBy("doc_id")
    },

    // WordPiece fertility + UNK rate by language under the same pieces.
    "wordpiece_fertility" -> { (spark, dir) =>
      Wordpiece.fertility(docs(spark, dir), "text", "lang", WpPieces,
          WpMaxPiece)
        .orderBy("group")
    },

    // Versioned snapshot publish + time travel: v1 = closed orders,
    // v2 = all orders; reading v1 AFTER v2 exists must surface v1's
    // rows exactly (metadata-last commit). The scratch table resets per
    // invocation so bench reps re-exercise the full publish path.
    "snapshot_timetravel" -> { (spark, dir) =>
      val base = scratchDir("snapshot_timetravel").resolve("tbl")
      rmrf(base)
      val o = spark.read.parquet(s"$dir/orders.parquet")
      Maintenance.publishSnapshot(
        o.where(col("o_orderstatus") === "F"), base.toString)
      Maintenance.publishSnapshot(o, base.toString)
      Maintenance.readSnapshot(spark, base.toString, Some(1L))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    "snapshot_versions" -> { (spark, dir) =>
      import spark.implicits._
      val base = scratchDir("snapshot_versions").resolve("tbl")
      rmrf(base)
      val o = spark.read.parquet(s"$dir/orders.parquet")
      Maintenance.publishSnapshot(
        o.where(col("o_orderstatus") === "F"), base.toString)
      Maintenance.publishSnapshot(o, base.toString)
      Maintenance.committedVersions(spark, base.toString)
        .toDF("version", "n_rows").orderBy("version")
    },

    // HyperBall neighborhood sizes: radius-2 HLL register iteration over
    // the co-occurrence graph, paired with the exact BFS calibration.
    // The gate graph is every 10th order: the exact radius-2 BFS the
    // estimate is calibrated against materializes Σ|ball_2(v)| pairs —
    // on the FULL sf0.1 graph that is the quadratic blow-up the sketch
    // exists to avoid (measured 61 s), while the register iteration
    // itself scales with edges × registers. Same modulo on both engines.
    "graph_ball" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 10 === 0)
      Graph.neighborhoodSizes(
          Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
            maxGroup = TriMaxGroup),
          radius = 2, m = HllM)
        .orderBy("node")
    },

    "graph_nf" -> { (spark, dir) =>
      // the neighborhood function / distance distribution: estimated
      // pairs within r for r = 0..2 plus the cumulative fraction — the
      // effective-diameter readout of the HyperBall loop
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 10 === 0)
      Graph.neighborhoodFunction(
          Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
            maxGroup = TriMaxGroup),
          radius = 2, m = HllM)
        .orderBy("r")
    },

    "graph_harmonic" -> { (spark, dir) =>
      // HyperBall's actual target metric: harmonic centrality from the
      // per-radius ball-size deltas, exact-BFS calibrated at gate scale
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 10 === 0)
      Graph.harmonicCentrality(
          Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
            maxGroup = TriMaxGroup),
          radius = 2, m = HllM)
        .orderBy("node")
    },

    // Hash-deterministic node2vec-style walks over the co-occurrence
    // graph: WalkLen steps from every node, neighbor picked by
    // h32(start|step|salt) mod degree over the sorted adjacency list.
    "graph_walks" -> { (spark, dir) =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      Graph.deterministicWalks(
          Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
            maxGroup = TriMaxGroup),
          length = WalkLen, salt = WalkSalt)
        .orderBy("start", "step")
    }
  )

  /** Drift gates: snapshot split points (orders by date, events by ts). */
  private val DriftSplitDate = "1998-01-01"

  /** The drift_psi replay — shared VERBATIM with streaming_drift (the
    * monitor's accumulated store must equal the batch PSI).
    */
  private lazy val psiOracleSql: String = s"""
      WITH av AS (
        SELECT o_totalprice::DOUBLE AS v FROM orders
        WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'
          AND o_totalprice IS NOT NULL),
      bv AS (
        SELECT o_totalprice::DOUBLE AS v FROM orders
        WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'
          AND o_totalprice IS NOT NULL),
      bnd AS (SELECT quantile_cont(v,
        [${(0 to 10).map(i => s"${i.toDouble / 10}").mkString(",")}]) AS q
        FROM av),
      na AS (SELECT count(*)::BIGINT AS n FROM av),
      nb AS (SELECT count(*)::BIGINT AS n FROM bv),
      ac AS (
        SELECT bin, count(*)::BIGINT AS n_a FROM (
          SELECT CASE ${(1 to 9).map(i =>
            s"WHEN v <= q[${i + 1}] THEN $i").mkString(" ")}
            ELSE 10 END AS bin
          FROM av, bnd) GROUP BY 1),
      bc AS (
        SELECT bin, count(*)::BIGINT AS n_b FROM (
          SELECT CASE ${(1 to 9).map(i =>
            s"WHEN v <= q[${i + 1}] THEN $i").mkString(" ")}
            ELSE 10 END AS bin
          FROM bv, bnd) GROUP BY 1),
      grid AS (SELECT unnest(generate_series(1, 10)) AS bin),
      cells AS (
        SELECT grid.bin::BIGINT AS bin,
          CASE WHEN grid.bin = 1 THEN '-Infinity'::DOUBLE
            ELSE (round(q[grid.bin], 6) + 0.0) END AS lo,
          CASE WHEN grid.bin = 10 THEN 'Infinity'::DOUBLE
            ELSE (round(q[grid.bin + 1], 6) + 0.0) END AS hi,
          coalesce(ac.n_a, 0)::BIGINT AS n_a,
          coalesce(bc.n_b, 0)::BIGINT AS n_b,
          greatest(coalesce(ac.n_a, 0)::DOUBLE / na.n, 1e-6) AS sa,
          greatest(coalesce(bc.n_b, 0)::DOUBLE / nb.n, 1e-6) AS sb
        FROM grid
        LEFT JOIN ac ON ac.bin = grid.bin
        LEFT JOIN bc ON bc.bin = grid.bin, bnd, na, nb),
      tt AS (
        SELECT sum(CAST(round((sa - sb) * ln(sa / sb) * 1048576.0)
          AS BIGINT)) AS fp
        FROM cells)
      SELECT bin, lo, hi, n_a, n_b,
        (round(sa, 6) + 0.0) AS share_a,
        (round(sb, 6) + 0.0) AS share_b,
        (round((sa - sb) * ln(sa / sb), 6) + 0.0) AS term,
        (round(tt.fp::DOUBLE / 1048576.0, 6) + 0.0) AS psi
      FROM cells, tt
      ORDER BY bin"""

  private val DriftEventSplit = "2024-01-15"

  /** Systematic-sampling and rate-cap gate knobs. */
  private val SysSlots = 500L
  private val SysSalt = "sys"
  private val RateCapBucketSec = 3600L
  private val RateCapK = 3
  private val BpeMergeRounds = 4
  private val WalkLen = 3
  private val WalkSalt = "w"

  /** BM25 gate query: a fixed bag of corpus-vocabulary terms. */
  private val Bm25Terms = Seq("join", "hash", "spark", "window")
  private val Bm25K = 25
  private val RrfPoolK = 20
  private val RrfQueryVec = 0L
  private val RrfTopK = 10
  private val RrfC = 60

  /** SQL mirror of [[withInjectedPii]]. */
  private val PiiInjectSql = """
      SELECT doc_id, lang, source, CASE WHEN doc_id % 3 = 0
        THEN text || ' contact user' || doc_id || '@example.com from 10.0.'
          || (doc_id % 256) || '.7 or call 555-0199'
        ELSE text END AS text
      FROM documents"""

  /** SQL-literal forms of the [[Pii]] patterns (single-escaped). */
  private val PiiEmailSql = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIpSql = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiPhoneSql = "\\b\\d{3}-\\d{4}\\b"

  /** Size-skewed containment fixture (mirrored verbatim into the oracle
    * SQL): the corpus plus a 5-word PREFIX doc for every 40th document of
    * at least 40 words, ids offset by 100000 — each derived doc's shingle
    * set is wholly contained in its source (cont ≈ 1) at Jaccard ≈
    * 3/|source| (tiny), the regime Jaccard-tuned banding cannot recall.
    */
  private def skewedDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("text"))
      .unionAll(
        d.where(col("doc_id") % 40 === 0 &&
            size(split(col("text"), " ")) >= 40)
          .select((col("doc_id") + 100000L).as("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 5), " ")
              .as("text")))

  /** Deterministic PII injection for the pii_* gate queries (mirrored
    * verbatim into the oracle SQL): doc_id % 3 == 0 docs get appended
    * contact details derived from doc_id.
    */
  private def withInjectedPii(d: DataFrame): DataFrame =
    d.withColumn("text", when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or call 555-0199"))).otherwise(col("text")))

  // ================= DuckDB oracle SQL =================

  private val P = 1000000007L

  /** Replay of Contamination.novelty over the every-7th-doc reference
    * slice — shared by text_novelty and text_novelty_bloom (the bloom
    * variant is exact by construction).
    */
  private lazy val noveltyOracle: String = s"""$shingleCtes,
      dg AS (SELECT doc_id, unnest(shingles) AS h FROM sh
             WHERE doc_id % 7 != 0),
      rg AS (SELECT DISTINCT unnest(shingles) AS h FROM sh
             WHERE doc_id % 7 = 0),
      nv AS (SELECT doc_id, COUNT(*) AS nn FROM dg
             WHERE h NOT IN (SELECT h FROM rg) GROUP BY doc_id)
      SELECT sh.doc_id, len(shingles)::BIGINT AS n_shingles,
        COALESCE(nn, 0)::BIGINT AS n_novel,
        round(COALESCE(nn, 0)::DOUBLE / len(shingles), 6) AS novelty
      FROM sh LEFT JOIN nv ON sh.doc_id = nv.doc_id
      WHERE sh.doc_id % 7 != 0 ORDER BY sh.doc_id"""

  /** Word-3-gram shingle + MinHash-LSH candidate CTEs (shared by the two
    * minhash queries) — the literal DuckDB replay of
    * TextFunctions.{wordShingles,shingleHashes,minhashSig,bands} and
    * Dedup.minhashPairs.
    */
  /** Word-3-gram hashed-shingle CTE (replay of
    * TextFunctions.hashedWordNgrams) — shared by the minhash queries and
    * the contamination check.
    */
  private def shingleCtes: String = s"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id, CASE WHEN len(ws) >= 3
        THEN list_distinct(list_transform(
               list_transform(generate_series(1, len(ws)-2),
                 i -> array_to_string(ws[i:i+2], ' ')),
               s -> ('0x'||substr(md5(s),1,8))::BIGINT % $P))
        ELSE [('0x'||substr(md5(text),1,8))::BIGINT % $P] END AS shingles
      FROM base
    )"""

  /** langId replay producing the `pred` CTE (doc_id, lang, predicted,
    * marker_hits) — shared by the lang_id and lang_confusion gates.
    */
  private val LangIdPredSql = """
      WITH scores AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(text,' '), w -> w IN ('der','die','und','ist')))::BIGINT AS s_de,
          len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and')))::BIGINT AS s_en,
          len(list_filter(string_split(text,' '), w -> w IN ('el','los','que','y')))::BIGINT AS s_es,
          len(list_filter(string_split(text,' '), w -> w IN ('le','les','et','est')))::BIGINT AS s_fr,
          len(list_filter(string_split(text,' '), w -> w IN ('de5','shi4','le5','zai4')))::BIGINT AS s_zh
        FROM documents),
      pred AS (
        SELECT doc_id, lang,
          CASE
            WHEN s_de = mx AND mx > 0 THEN 'de'
            WHEN s_en = mx AND mx > 0 THEN 'en'
            WHEN s_es = mx AND mx > 0 THEN 'es'
            WHEN s_fr = mx AND mx > 0 THEN 'fr'
            WHEN s_zh = mx AND mx > 0 THEN 'zh'
            ELSE 'und' END AS predicted,
          mx AS marker_hits
        FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx
              FROM scores))"""

  /** Replay of [[Classify.naiveBayes]] on the documents corpus with the
    * NbTrusted positive predicate, ending in an `nb` CTE of
    * (doc_id, pos, n_tokens, log_odds) — shared by quality_classifier
    * and the classifier_auc / classifier_eval / classify_calibration
    * evaluation oracles.
    */
  private val NbCtes = s"""
      WITH lbl AS (
        SELECT doc_id, text,
          source IN (${NbTrusted.map(s => s"'$s'").mkString(",")}) AS pos
        FROM documents
      ), toks AS (
        SELECT doc_id, pos,
          ('0x'||substr(md5(w),1,8))::BIGINT % $P % $NbBuckets AS b
        FROM lbl, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != ''
      ), cnt AS (
        SELECT b, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pc,
          sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nc
        FROM toks GROUP BY b
      ), tot AS (SELECT sum(pc) AS pt, sum(nc) AS nt FROM cnt
      ), pri AS (
        SELECT CAST(round(ln(
            (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1)::DOUBLE
            / (sum(CASE WHEN pos THEN 0 ELSE 1 END) + 1)) * 1000000)
          AS BIGINT) AS prior
        FROM lbl
      ), lr AS (
        SELECT b, CAST(round((ln((pc + 1)::DOUBLE / (pt + $NbBuckets))
          - ln((nc + 1)::DOUBLE / (nt + $NbBuckets))) * 1000000)
          AS BIGINT) AS lrf
        FROM cnt, tot
      ), scored AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          sum(lrf) AS fx
        FROM toks JOIN lr USING (b) GROUP BY doc_id
      ), nb AS (
        SELECT d.doc_id, l.pos, coalesce(s.n_tokens, 0) AS n_tokens,
          (round((pri.prior + coalesce(s.fx, 0)) / 1000000.0, 6) + 0)
            AS log_odds
        FROM documents d
        LEFT JOIN scored s ON d.doc_id = s.doc_id
        JOIN lbl l ON d.doc_id = l.doc_id, pri)"""

  /** [[minhashCtes]] with the corpus swapped for an arbitrary
    * (doc_id, text) source expression.
    */
  private def minhashCtesOver(src: String): String =
    minhashCtes.replace("FROM documents", s"FROM ($src)")

  private def minhashCtes: String = s"""$shingleCtes, mh AS (
      SELECT doc_id, list_transform(generate_series(0, ${MinhashK - 1}), i ->
        list_min(list_transform(shingles, h ->
          ((((i+1)*2654435761) % $P) * h + (((i+1)*40503) % $P)) % $P))) AS sig
      FROM sh
    ), banded AS (
      SELECT doc_id, j AS band,
        array_to_string(sig[j*$MinhashR+1 : j*$MinhashR+$MinhashR], '-') AS bsig
      FROM mh, unnest(generate_series(0, ${MinhashB - 1})) AS t(j)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b,
        round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
      FROM cand
      JOIN sh a ON a.doc_id = cand.doc_a
      JOIN sh b ON b.doc_id = cand.doc_b
    )"""

  /** [[minhashCtes]] with the One-Permutation signature (replay of
    * ExprKernels.ophSig): bucket h mod k keeps its min, empty bucket j
    * borrows the clockwise-nearest non-empty bucket — min_by over the
    * circular distance (b - j + k) mod k, which is 0 for an occupied j
    * itself, so occupied buckets keep their own min. Banding and the
    * exact-Jaccard verify are VERBATIM the minhash CTEs.
    */
  private def ophCtes: String = s"""$shingleCtes, bmin AS (
      SELECT doc_id, h % $MinhashK AS b, min(h) AS v
      FROM (SELECT doc_id, unnest(shingles) AS h FROM sh)
      GROUP BY doc_id, b
    ), sigrows AS (
      SELECT doc_id, j, min_by(v, (b - j + $MinhashK) % $MinhashK) AS s
      FROM bmin, unnest(generate_series(0, ${MinhashK - 1})) AS t(j)
      GROUP BY doc_id, j
    ), mh AS (
      SELECT doc_id, list(s ORDER BY j) AS sig FROM sigrows GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, j AS band,
        array_to_string(sig[j*$MinhashR+1 : j*$MinhashR+$MinhashR], '-') AS bsig
      FROM mh, unnest(generate_series(0, ${MinhashB - 1})) AS t(j)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b,
        round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
      FROM cand
      JOIN sh a ON a.doc_id = cand.doc_a
      JOIN sh b ON b.doc_id = cand.doc_b
    )"""

  /** 60-bit SimHash of `text` (replay of TextFunctions.{wordHashes60,
    * simhash60FromHashes}): word hash = first 15 md5 hex chars (60 bits —
    * every value and every 2^j below stays inside signed BIGINT), bit j set
    * when the ±1 votes over distinct words sum >= 0.
    */
  private def simhash60Sql: String = """
    list_reduce(list_prepend(0::BIGINT, generate_series(0, 59)), (acc, j) ->
      acc + CASE WHEN list_reduce(list_prepend(0::BIGINT,
          list_transform(list_distinct(string_split(text, ' ')),
            w -> ('0x'||substr(md5(w),1,15))::BIGINT)),
          (s, h) -> s + ((h // CAST(power(2, j) AS BIGINT)) % 2 * 2 - 1)) >= 0
        THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)"""

  /** Sequential-accumulation double dot product (replay of
    * VectorFunctions.dot — list_reduce is strictly left-to-right, matching
    * Spark's `aggregate`).
    */
  private def dotD(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE)), (x, y) -> x + y)"""

  // `+ 0` normalizes IEEE negative zero: DuckDB's round keeps the sign of
  // a tiny negative (-1e-9 -> -0.0) where Spark's BigDecimal HALF_UP
  // drops it (-> 0.0); adding +0.0 maps both to +0.0 and nothing else.
  private def cosD(a: String, b: String): String =
    s"(round(${dotD(a, b)} / (sqrt(${dotD(a, a)}) * sqrt(${dotD(b, b)})), 6) + 0)"

  /** Cosine between a float embedding row `e` and a double k-means
    * centroid row `c` (replay of Similarity.assignTo's scoring: float
    * elements widen to double exactly, sequential accumulation, 6dp).
    */
  private def kmCos(e: String, c: String): String = {
    val dotEC = s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       d -> $e.embedding[d]::DOUBLE * $c.c_emb[d])), (x, y) -> x + y)"""
    val dotCC = s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       d -> $c.c_emb[d] * $c.c_emb[d])), (x, y) -> x + y)"""
    s"(round($dotEC / (sqrt(${dotD(e, e)}) * sqrt($dotCC)), 6) + 0)"
  }

  /** One Lloyd assignment CTE: every vector to its max-cosine centroid
    * (c_id tie-break) — replay of Similarity.ivfTopK's assignTo.
    */
  private def kmAssign(cents: String, out: String,
      src: String = "embeddings"): String = s"""
    $out AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.c_id AS cell,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${kmCos("e", "c")} DESC, c.c_id) AS rn
        FROM $src e CROSS JOIN $cents c)
      WHERE rn = 1)"""

  /** One Lloyd update CTE: centroid = per-dimension mean of its members,
    * summed sequentially in ascending vec_id order — the bit-deterministic
    * replay of sort_array(collect_list) + aggregate on the Spark side.
    */
  private def kmUpdate(assign: String, out: String): String = s"""
    $out AS (
      SELECT cell AS c_id, list_transform(generate_series(1, 64), d ->
        list_reduce(list_prepend(0.0, list_transform(ms, m -> m[d]::DOUBLE)),
          (x, y) -> x + y) / len(ms)) AS c_emb
      FROM (
        SELECT cell, list(e.embedding ORDER BY e.vec_id) AS ms
        FROM $assign a JOIN embeddings e USING (vec_id)
        GROUP BY cell))"""

  /** One Lloyd update CTE replaying the DEFAULT (scale-path) fixed-point
    * centroid update (Similarity.ivfTopK, exactReplay=false): per
    * dimension, sum round(x * 2^20) as exact integers and divide by the
    * member count. Long sums are order-insensitive, so this replays
    * bit-for-bit WITHOUT the sequential-order list the exactReplay form
    * needs. The scale multiply is by a power of two (exact in binary FP)
    * and both engines round ties away from zero, so the quantization is
    * identical on both sides.
    */
  private def kmUpdateFixed(assign: String, out: String): String = s"""
    $out AS (
      SELECT cell AS c_id, list(m ORDER BY d) AS c_emb FROM (
        SELECT cell, d,
          SUM(CAST(round(e.embedding[d]::DOUBLE * 1048576.0) AS BIGINT))::DOUBLE
            / COUNT(*) / 1048576.0 AS m
        FROM $assign a JOIN embeddings e USING (vec_id)
        CROSS JOIN generate_series(1, 64) t(d)
        GROUP BY cell, d)
      GROUP BY cell)"""

  /** Query-side multi-probe assignment CTE: each query vector keeps its
    * `probes` nearest centroids (replay of ivfTopK's assignTo(topN)).
    */
  private def kmAssignProbes(cents: String, out: String, probes: Int): String = s"""
    $out AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.c_id AS cell,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${kmCos("e", "c")} DESC, c.c_id) AS rn
        FROM embeddings e CROSS JOIN $cents c
        WHERE e.vec_id < $NQueryVecs)
      WHERE rn <= $probes)"""

  /** Sign-LSH banded projection of embeddings (replay of
    * VectorFunctions.{signBits,bitBands}): 64 hyperplanes, `b` bands of `r`.
    */
  private def signBandCtes(b: Int, r: Int): String = s"""
    WITH bits AS (
      SELECT vec_id, embedding, list_transform(generate_series(0, 63), j ->
        CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
          d -> embedding[d]::DOUBLE * (((j*64 + (d-1)) * 2654435761) % 97 - 48)::DOUBLE)),
          (x, y) -> x + y) >= 0 THEN 1 ELSE 0 END) AS sb
      FROM embeddings
    ), banded AS (
      SELECT vec_id, j AS band, array_to_string(sb[j*$r+1 : j*$r+$r], '-') AS bsig
      FROM bits, unnest(generate_series(0, ${b - 1})) AS t(j)
    )"""

  /** The multi-probe IVF replay, shared by the in-memory and persisted
    * index gates (`similarity_ivf_probes`, `similarity_ivf_index`): the
    * index path trains the identical centroids and probes the identical
    * cells, and the parquet roundtrip must not change one bit.
    */
  private val ivfProbesOracle: String = ivfIndexOracle("embeddings", "")

  /** [[ivfProbesOracle]] parameterized over the POST-TRAINING corpus:
    * centroids always train on `embeddings` (what ivfWrite saw), while
    * cell assignment and neighbor scoring run over `src` — the replay of
    * ivfAppend, where a later batch joins the store under the frozen
    * centroids. `pre` injects the extra WITH entries `src` needs.
    */
  private def ivfIndexOracle(src: String, pre: String): String = s"""
      WITH ${pre}cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdateFixed("assign1", "cents2")}
      , ${kmAssign("cents2", "cells", src)}
      , ${kmAssignProbes("cents2", "qcells", IvfProbes)}
      , cand AS (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id
        FROM qcells q JOIN cells e ON q.cell = e.cell AND q.vec_id != e.vec_id
      ), scored AS (
        SELECT q_id, n_id, ${cosD("a", "b")} AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.q_id
        JOIN $src b ON b.vec_id = cand.n_id)
      SELECT q_id, n_id, cosine,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank"""

  /** Static oracles plus the one dump-time entry: pq_recall_opq's SQL
    * embeds the rotation TRAINED DURING THE QUERY RUN (see
    * [[opqRecallOracle]]), so the map must be rebuilt at access time
    * rather than frozen at object init.
    */
  def oracles: Map[String, String] =
    staticOracles + ("pq_recall_opq" -> opqRecallOracle) +
      ("ab_kruskal" -> kruskalOracle) +
      ("ab_chi2_independence" -> chi2IndependenceOracle) +
      ("ab_fisher" -> fisherOracle) +
      // the parsed-config chains must match their direct-API twins
      // exactly, so they share the twins' oracles verbatim
      ("stage_stats_chain" -> staticOracles("ab_segments")) +
      ("stage_url_chain" -> staticOracles("curate_domains")) +
      ("stage_graph_chain" -> staticOracles("graph_scc")) +
      ("stage_curate_pretrain" -> staticOracles("curate_pretrain")) +
      ("stage_html_chain" -> staticOracles("text_html_extract")) +
      // micro-batched appends under frozen centroids end in the same
      // index state as the one-shot batch append — same oracle
      ("streaming_ivf_append" -> staticOracles("similarity_ivf_append")) +
      ("stage_streaming_chain" -> staticOracles("similarity_ivf_append"))

  private lazy val staticOracles: Map[String, String] = Map(
    "dedup_exact" -> """
      SELECT doc_id, lang, source, n_chars FROM documents
      QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
      ORDER BY doc_id""",

    // Replay of Profile.table: per-column stats via UNION ALL of
    // single-column aggregates.
    "profile_table" -> """
      SELECT * FROM (
        SELECT 'l_orderkey' AS "column", COUNT(*)::BIGINT AS n_rows,
          (COUNT(*) - COUNT(l_orderkey))::BIGINT AS n_nulls,
          COUNT(DISTINCT l_orderkey)::BIGINT AS n_distinct,
          MIN(l_orderkey)::VARCHAR AS min_value,
          MAX(l_orderkey)::VARCHAR AS max_value FROM lineitem
        UNION ALL
        SELECT 'l_quantity', COUNT(*)::BIGINT,
          (COUNT(*) - COUNT(l_quantity))::BIGINT,
          COUNT(DISTINCT l_quantity)::BIGINT,
          MIN(l_quantity)::VARCHAR, MAX(l_quantity)::VARCHAR FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', COUNT(*)::BIGINT,
          (COUNT(*) - COUNT(l_returnflag))::BIGINT,
          COUNT(DISTINCT l_returnflag)::BIGINT,
          MIN(l_returnflag)::VARCHAR, MAX(l_returnflag)::VARCHAR FROM lineitem)
      ORDER BY "column"""",

    // Replay of Profile.drift: both snapshots profiled independently
    // (per-column UNION ALL aggregates, as profile_table), joined on the
    // column name; drifted = any stat IS DISTINCT FROM its counterpart.
    "profile_drift" -> """
      WITH after_t AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice * 2
            ELSE o_totalprice END AS o_totalprice,
          o_orderstatus
        FROM orders WHERE o_orderkey % 10 != 3),
      a AS (
        SELECT 'o_orderkey' AS "column", COUNT(*)::BIGINT AS n_rows,
          (COUNT(*) - COUNT(o_orderkey))::BIGINT AS n_nulls,
          COUNT(DISTINCT o_orderkey)::BIGINT AS n_distinct,
          MIN(o_orderkey)::VARCHAR AS min_value,
          MAX(o_orderkey)::VARCHAR AS max_value FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*)::BIGINT,
          (COUNT(*) - COUNT(o_totalprice))::BIGINT,
          COUNT(DISTINCT o_totalprice)::BIGINT,
          MIN(o_totalprice)::VARCHAR, MAX(o_totalprice)::VARCHAR FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*)::BIGINT,
          (COUNT(*) - COUNT(o_orderstatus))::BIGINT,
          COUNT(DISTINCT o_orderstatus)::BIGINT,
          MIN(o_orderstatus)::VARCHAR, MAX(o_orderstatus)::VARCHAR FROM orders),
      b AS (
        SELECT 'o_orderkey' AS "column", COUNT(*)::BIGINT AS n_rows,
          (COUNT(*) - COUNT(o_orderkey))::BIGINT AS n_nulls,
          COUNT(DISTINCT o_orderkey)::BIGINT AS n_distinct,
          MIN(o_orderkey)::VARCHAR AS min_value,
          MAX(o_orderkey)::VARCHAR AS max_value FROM after_t
        UNION ALL
        SELECT 'o_totalprice', COUNT(*)::BIGINT,
          (COUNT(*) - COUNT(o_totalprice))::BIGINT,
          COUNT(DISTINCT o_totalprice)::BIGINT,
          MIN(o_totalprice)::VARCHAR, MAX(o_totalprice)::VARCHAR FROM after_t
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*)::BIGINT,
          (COUNT(*) - COUNT(o_orderstatus))::BIGINT,
          COUNT(DISTINCT o_orderstatus)::BIGINT,
          MIN(o_orderstatus)::VARCHAR, MAX(o_orderstatus)::VARCHAR FROM after_t)
      SELECT a."column",
        a.n_rows AS n_rows_before, a.n_nulls AS n_nulls_before,
        a.n_distinct AS n_distinct_before,
        a.min_value AS min_value_before, a.max_value AS max_value_before,
        b.n_rows AS n_rows_after, b.n_nulls AS n_nulls_after,
        b.n_distinct AS n_distinct_after,
        b.min_value AS min_value_after, b.max_value AS max_value_after,
        (a.n_rows IS DISTINCT FROM b.n_rows
          OR a.n_nulls IS DISTINCT FROM b.n_nulls
          OR a.n_distinct IS DISTINCT FROM b.n_distinct
          OR a.min_value IS DISTINCT FROM b.min_value
          OR a.max_value IS DISTINCT FROM b.max_value) AS drifted
      FROM a JOIN b USING ("column")
      ORDER BY a."column"""",

    // Replay of Dedup.exactIncremental: sha2 digest equality IS key
    // equality (collision-free), so the oracle compares the keys directly.
    "dedup_incremental" -> """
      WITH batch AS (
        SELECT doc_id, text, lang, source, n_chars FROM documents
        WHERE doc_id >= 250
        QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
      SELECT doc_id, lang, source, n_chars FROM batch
      WHERE text NOT IN (SELECT text FROM documents WHERE doc_id < 250)
      ORDER BY doc_id""",

    "dedup_minhash_pairs" -> s"""$minhashCtes
      SELECT doc_a, doc_b, jaccard FROM pairs
      WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""",

    "dedup_minhash_oph" -> s"""$ophCtes
      SELECT doc_a, doc_b, jaccard FROM pairs
      WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""",

    "dedup_minhash_apply" -> s"""$minhashCtes
      SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
      WHERE d.doc_id NOT IN (
        SELECT doc_b FROM pairs WHERE jaccard >= $JaccardThreshold)
      ORDER BY d.doc_id""",

    "dedup_minhash_cc" -> s"""${minhashCtes.replaceFirst("WITH", "WITH RECURSIVE")}
      , ok AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $JaccardThreshold
      ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM ok
        UNION SELECT doc_b, doc_a FROM ok
      ), reach AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
      )
      SELECT src AS doc_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src ORDER BY doc_id""",

    // CC replay (as dedup_minhash_cc) + size histogram + singleton row.
    "dedup_cluster_stats" -> s"""${minhashCtes.replaceFirst("WITH", "WITH RECURSIVE")}
      , ok AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $JaccardThreshold
      ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM ok
        UNION SELECT doc_b, doc_a FROM ok
      ), reach AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
      ), comps AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
      ), sizes AS (
        SELECT component, count(*)::BIGINT AS cluster_size
        FROM comps GROUP BY 1
      ), hist AS (
        SELECT cluster_size, count(*)::BIGINT AS n_clusters,
          (cluster_size * count(*))::BIGINT AS n_docs
        FROM sizes GROUP BY 1
      ), tot AS (
        SELECT (SELECT count(*) FROM documents)::BIGINT AS total,
          (SELECT count(*) FROM comps)::BIGINT AS clustered
      ), withsingles AS (
        SELECT cluster_size, n_clusters, n_docs FROM hist
        UNION ALL
        SELECT 1::BIGINT, (total - clustered)::BIGINT,
          (total - clustered)::BIGINT
        FROM tot WHERE total > clustered)
      SELECT cluster_size, n_clusters, n_docs,
        (round(n_docs::DOUBLE / (SELECT total FROM tot)::DOUBLE, 6)
          + 0.0) AS doc_share
      FROM withsingles ORDER BY cluster_size""",

    // CC replay (as dedup_minhash_cc) + drop non-representative members.
    "dedup_cc_apply" -> s"""${minhashCtes.replaceFirst("WITH", "WITH RECURSIVE")}
      , ok AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $JaccardThreshold
      ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM ok
        UNION SELECT doc_b, doc_a FROM ok
      ), reach AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
      ), comps AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
      )
      SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
      WHERE d.doc_id NOT IN (
        SELECT doc_id FROM comps WHERE component != doc_id)
      ORDER BY d.doc_id""",

    // CC replay (as dedup_minhash_cc) + the keep-best winner rule:
    // highest n_chars per cluster, ties to the min id; singletons
    // (no component row) keep themselves via the COALESCE label.
    "dedup_keep_best" -> s"""${minhashCtes.replaceFirst("WITH", "WITH RECURSIVE")}
      , ok AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $JaccardThreshold
      ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM ok
        UNION SELECT doc_b, doc_a FROM ok
      ), reach AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
      ), comps AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
      ), labeled AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
          COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comps c USING (doc_id))
      SELECT doc_id, lang, source, n_chars FROM labeled
      QUALIFY row_number() OVER (
        PARTITION BY component ORDER BY n_chars DESC, doc_id) = 1
      ORDER BY doc_id""",

    "dedup_simhash_fp" -> s"""
      SELECT doc_id, $simhash60Sql AS simhash
      FROM documents ORDER BY doc_id""",

    // Replay of Dedup.simhashPairs incl. the oversized-bucket splitter:
    // 60-bit fp, 4 x 15-bit bands; buckets > $SimhashMaxBucket re-banded on
    // the remaining 45 bits (4 x 12-bit sub-slices; integer // and % match
    // Spark's shift/mask exactly for these nonnegative values).
    "dedup_simhash_pairs" -> s"""
      WITH fp AS (
        SELECT doc_id, $simhash60Sql AS simhash FROM documents
      ), banded AS (
        SELECT doc_id, simhash, j AS band,
          (simhash // CAST(power(2, 15*j) AS BIGINT)) % 32768 AS bkey,
          (simhash // CAST(power(2, 15*(j+1)) AS BIGINT)) * CAST(power(2, 15*j) AS BIGINT)
            + simhash % CAST(power(2, 15*j) AS BIGINT) AS rem
        FROM fp, unnest(generate_series(0, 3)) AS t(j)
      ), sized AS (
        SELECT banded.*, count(*) OVER (PARTITION BY band, bkey) AS n FROM banded
      ), small AS (
        SELECT * FROM sized WHERE n <= $SimhashMaxBucket
      ), big AS (
        SELECT doc_id, simhash, band, bkey, k AS sub,
          (rem // CAST(power(2, 12*k) AS BIGINT)) % 4096 AS skey
        FROM sized, unnest(generate_series(0, 3)) AS t(k)
        WHERE n > $SimhashMaxBucket
      ), allp AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        FROM small x JOIN small y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        UNION ALL
        SELECT x.doc_id, y.doc_id,
          bit_count(xor(x.simhash, y.simhash))::BIGINT
        FROM big x JOIN big y
          ON x.band = y.band AND x.bkey = y.bkey AND x.sub = y.sub
            AND x.skey = y.skey AND x.doc_id < y.doc_id
      )
      SELECT doc_a, doc_b, hamming FROM (
        SELECT DISTINCT doc_a, doc_b, hamming FROM allp)
      WHERE hamming <= 3
      ORDER BY doc_a, doc_b""",

    // Replay of Dedup.ngramJaccardPairs incl. the bounded-block guard:
    // blocks over $NgramMaxBlock docs go through the in-block MinHash-LSH
    // candidate pass ($NgramLshBands single-row bands, same Knuth-constant
    // permutations as the minhash queries) instead of the all-pairs join.
    "dedup_ngram_jaccard" -> s"""
      WITH grams AS (
        SELECT doc_id, lang, length(text) // $NgramBucket AS lenb,
          CASE WHEN length(text) >= $NgramN
            THEN list_distinct(list_transform(
                   generate_series(1, length(text) - ${NgramN - 1}),
                   i -> substr(text, i, $NgramN)))
            ELSE [text] END AS gs
        FROM documents
      ), sh AS (
        SELECT * FROM (
          SELECT doc_id, lang, lenb,
            list_filter(list_distinct(list_transform(gs,
              s -> ('0x'||substr(md5(s),1,8))::BIGINT % $P)),
              h -> h % $NgramSampleMod = 0) AS shingles
          FROM grams)
        WHERE len(shingles) > 0
      ), sized AS (
        SELECT sh.*, count(*) OVER (PARTITION BY lang, lenb) AS n FROM sh
      ), small AS (
        SELECT * FROM sized WHERE n <= $NgramMaxBlock
      ), big AS (
        SELECT doc_id, lang, lenb, j AS band,
          list_min(list_transform(shingles, h ->
            ((((j+1)*2654435761) % $P) * h + (((j+1)*40503) % $P)) % $P)) AS mh
        FROM sized, unnest(generate_series(0, ${NgramLshBands - 1})) AS t(j)
        WHERE n > $NgramMaxBlock
      ), candbig AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM big x JOIN big y
          ON x.lang = y.lang AND x.lenb = y.lenb AND x.band = y.band
            AND x.mh = y.mh AND x.doc_id < y.doc_id
      ), allp AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
            / len(list_distinct(list_concat(x.shingles, y.shingles)))::DOUBLE, 6) AS jaccard
        FROM small x JOIN small y
          ON x.lang = y.lang AND x.lenb = y.lenb AND x.doc_id < y.doc_id
        UNION ALL
        SELECT doc_a, doc_b,
          round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6)
        FROM candbig
        JOIN sh a ON a.doc_id = candbig.doc_a
        JOIN sh b ON b.doc_id = candbig.doc_b
      )
      SELECT doc_a, doc_b, jaccard FROM allp
      WHERE jaccard >= $NgramThreshold ORDER BY doc_a, doc_b""",

    // Replay of Dedup.editDistancePairs: same (lang, length-band)
    // blocking with the maxBlock window guard, adjacent-band probe, and
    // the |len diff| <= maxDist filter before the distance; DuckDB's
    // unbounded levenshtein equals Spark's bounded one on every pair the
    // threshold keeps.
    "dedup_edit" -> s"""
      WITH d AS (
        SELECT doc_id, text, lang, length(text) AS len,
          floor(length(text) / $EditBucket.0) AS lenb
        FROM documents),
      k AS (SELECT *, count(*) OVER (PARTITION BY lang, lenb) AS bn FROM d),
      kept AS (SELECT doc_id, text, lang, len, lenb FROM k
               WHERE bn <= $EditMaxBlock)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        levenshtein(a.text, b.text)::BIGINT AS dist
      FROM kept a JOIN kept b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND b.lenb BETWEEN a.lenb - 1 AND a.lenb + 1
       AND abs(a.len - b.len) <= $EditMaxDist
      WHERE levenshtein(a.text, b.text) <= $EditMaxDist
      ORDER BY id_a, id_b""",

    // Replay of Dedup.prefixJaccardPairs: same winnowed-shingle CTE as
    // dedup_ngram_jaccard, global rarity order (df asc, token asc), prefix
    // of sz - ceil(t*sz) + 1 tokens, prefix-token join, exact Jaccard.
    "dedup_prefix" -> s"""
      WITH grams AS (
        SELECT doc_id,
          CASE WHEN length(text) >= $NgramN
            THEN list_distinct(list_transform(
                   generate_series(1, length(text) - ${NgramN - 1}),
                   i -> substr(text, i, $NgramN)))
            ELSE [text] END AS gs
        FROM documents
      ), sh AS (
        SELECT * FROM (
          SELECT doc_id,
            list_filter(list_distinct(list_transform(gs,
              s -> ('0x'||substr(md5(s),1,8))::BIGINT % $P)),
              h -> h % $NgramSampleMod = 0) AS shingles
          FROM grams)
        WHERE len(shingles) > 0
      ), tok AS (
        SELECT doc_id, len(shingles)::BIGINT AS sz, unnest(shingles) AS tok
        FROM sh
      ), dfreq AS (
        SELECT tok, count(*) AS df FROM tok GROUP BY 1
      ), pref AS (
        SELECT doc_id, tok FROM (
          SELECT t.doc_id, t.tok, t.sz,
            row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok)
              AS rn
          FROM tok t JOIN dfreq d USING (tok))
        WHERE rn <= sz - ceil(sz::DOUBLE * $NgramThreshold) + 1
      ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM pref x JOIN pref y
          ON x.tok = y.tok AND x.doc_id < y.doc_id
      )
      SELECT doc_a, doc_b,
        round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE,
          6) AS jaccard
      FROM cand
      JOIN sh a ON a.doc_id = cand.doc_a
      JOIN sh b ON b.doc_id = cand.doc_b
      WHERE jaccard >= $NgramThreshold
      ORDER BY doc_a, doc_b""",

    // Replay of Dedup.jaroWinklerPairs: the edit-distance blocking
    // (lang + length band, adjacent-band probe, maxBlock guard) with
    // DuckDB's native rapidfuzz-semantics jaro_winkler_similarity — the
    // Spark side's codegen'd kernel implements the identical algorithm
    // (boost only above jaro 0.7, prefix capped at 4).
    "dedup_jarowinkler" -> s"""
      WITH d AS (
        SELECT doc_id, text, lang,
          floor(length(text) / $EditBucket.0) AS lenb
        FROM documents),
      k AS (SELECT *, count(*) OVER (PARTITION BY lang, lenb) AS bn FROM d),
      kept AS (SELECT doc_id, text, lang, lenb FROM k
               WHERE bn <= $EditMaxBlock)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(jaro_winkler_similarity(a.text, b.text), 6) AS sim
      FROM kept a JOIN kept b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND b.lenb BETWEEN a.lenb - 1 AND a.lenb + 1
      WHERE round(jaro_winkler_similarity(a.text, b.text), 6) >= $JwMinSim
      ORDER BY id_a, id_b""",

    // Replay of Similarity.nearDupPairs incl. the oversized-bucket guard:
    // banded rows carry the next band's signature (cyclic); buckets over
    // $EmbedMaxBucket vectors join on (band, bsig, nsig) instead.
    "dedup_embedding" -> s"""${signBandCtes(8, 8)}, banded2 AS (
        SELECT vec_id, band, bsig,
          array_to_string(sb[((band+1)%8)*8+1 : ((band+1)%8)*8+8], '-') AS nsig
        FROM banded JOIN bits USING (vec_id)
      ), sized AS (
        SELECT banded2.*, count(*) OVER (PARTITION BY band, bsig) AS n
        FROM banded2
      ), cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM sized x JOIN sized y
            ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id
          WHERE x.n <= $EmbedMaxBucket
          UNION ALL
          SELECT x.vec_id, y.vec_id
          FROM sized x JOIN sized y
            ON x.band = y.band AND x.bsig = y.bsig AND x.nsig = y.nsig
              AND x.vec_id < y.vec_id
          WHERE x.n > $EmbedMaxBucket)
      )
      SELECT vec_a, vec_b, cosine FROM (
        SELECT vec_a, vec_b, ${cosD("a", "b")} AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.vec_a
        JOIN embeddings b ON b.vec_id = cand.vec_b)
      WHERE cosine >= $EmbedDupThreshold
      ORDER BY vec_a, vec_b""",

    // Replay of Similarity.dbscan: the dedup_embedding candidate
    // machinery verbatim (same bands, same oversized-bucket key
    // extension) at the DBSCAN threshold, then the textbook roles —
    // core by degree+1 >= minPts, clusters as the transitive closure
    // of CORE-CORE edges (label = min reachable core id, matching the
    // min-label fixpoint), border = min core-neighbor's cluster,
    // noise = NULL cluster.
    "embed_dbscan" -> s"""${signBandCtes(8, 8)
        .replaceFirst("WITH", "WITH RECURSIVE")}, banded2 AS (
        SELECT vec_id, band, bsig,
          array_to_string(sb[((band+1)%8)*8+1 : ((band+1)%8)*8+8], '-') AS nsig
        FROM banded JOIN bits USING (vec_id)
      ), sized AS (
        SELECT banded2.*, count(*) OVER (PARTITION BY band, bsig) AS n
        FROM banded2
      ), cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM sized x JOIN sized y
            ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id
          WHERE x.n <= $EmbedMaxBucket
          UNION ALL
          SELECT x.vec_id, y.vec_id
          FROM sized x JOIN sized y
            ON x.band = y.band AND x.bsig = y.bsig AND x.nsig = y.nsig
              AND x.vec_id < y.vec_id
          WHERE x.n > $EmbedMaxBucket)
      ), pr AS (
        SELECT vec_a, vec_b FROM (
          SELECT vec_a, vec_b, ${cosD("a", "b")} AS cosine
          FROM cand
          JOIN embeddings a ON a.vec_id = cand.vec_a
          JOIN embeddings b ON b.vec_id = cand.vec_b)
        WHERE cosine >= $DbscanThreshold
      ), sym AS (
        SELECT vec_a AS v, vec_b AS n FROM pr
        UNION ALL SELECT vec_b, vec_a FROM pr
      ), core AS (
        SELECT v FROM (SELECT v, count(*) AS dg FROM sym GROUP BY v)
        WHERE dg + 1 >= $DbscanMinPts
      ), ce AS (
        SELECT s.v AS src, s.n AS dst FROM sym s
        JOIN core a ON s.v = a.v JOIN core b ON s.n = b.v
      ), reach AS (
        SELECT src, dst FROM ce
        UNION
        SELECT r.src, e.dst FROM reach r JOIN ce e ON r.dst = e.src
      ), ccl AS (
        SELECT c.v, least(c.v, coalesce(min(r.dst), c.v)) AS cluster
        FROM core c LEFT JOIN reach r ON r.src = c.v GROUP BY c.v
      ), ba AS (
        SELECT s.v, min(c.cluster) AS bc
        FROM sym s JOIN ccl c ON s.n = c.v GROUP BY s.v
      )
      SELECT e.vec_id,
        CASE WHEN ccl.cluster IS NOT NULL THEN 'core'
             WHEN ba.bc IS NOT NULL THEN 'border'
             ELSE 'noise' END AS role,
        COALESCE(ccl.cluster, ba.bc)::BIGINT AS cluster
      FROM embeddings e LEFT JOIN ccl ON e.vec_id = ccl.v
        LEFT JOIN ba ON e.vec_id = ba.v
      ORDER BY e.vec_id""",

    // Replay of Similarity.pairQuality: the embed_dbscan pair CTEs at
    // the same threshold, label joins, exact tp/fp counts, size-based
    // true-pair denominator, pinned-order 6dp divisions (f1 from the
    // ROUNDED precision/recall, as the Spark side computes it).
    "dedup_pair_quality" -> s"""${signBandCtes(8, 8)}, banded2 AS (
        SELECT vec_id, band, bsig,
          array_to_string(sb[((band+1)%8)*8+1 : ((band+1)%8)*8+8], '-') AS nsig
        FROM banded JOIN bits USING (vec_id)
      ), sized AS (
        SELECT banded2.*, count(*) OVER (PARTITION BY band, bsig) AS n
        FROM banded2
      ), cand AS (
        SELECT DISTINCT vec_a, vec_b FROM (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM sized x JOIN sized y
            ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id
          WHERE x.n <= $EmbedMaxBucket
          UNION ALL
          SELECT x.vec_id, y.vec_id
          FROM sized x JOIN sized y
            ON x.band = y.band AND x.bsig = y.bsig AND x.nsig = y.nsig
              AND x.vec_id < y.vec_id
          WHERE x.n > $EmbedMaxBucket)
      ), pr AS (
        SELECT vec_a, vec_b FROM (
          SELECT vec_a, vec_b, ${cosD("a", "b")} AS cosine
          FROM cand
          JOIN embeddings a ON a.vec_id = cand.vec_a
          JOIN embeddings b ON b.vec_id = cand.vec_b)
        WHERE cosine >= $DbscanThreshold
      ), lp AS (
        SELECT a.label AS la, b.label AS lb
        FROM pr p JOIN embeddings a ON a.vec_id = p.vec_a
        JOIN embeddings b ON b.vec_id = p.vec_b
        WHERE a.label IS NOT NULL AND b.label IS NOT NULL
      ), found AS (
        SELECT count(*)::BIGINT AS n_pairs,
          coalesce(sum(CASE WHEN la = lb THEN 1 ELSE 0 END), 0)::BIGINT
            AS tp
        FROM lp
      ), truth AS (
        SELECT (coalesce(sum(n::HUGEINT * (n - 1)::HUGEINT),
          0::HUGEINT) // 2)::BIGINT AS n_true_pairs
        FROM (SELECT count(*)::BIGINT AS n FROM embeddings
              WHERE label IS NOT NULL GROUP BY label)
      ), base AS (
        SELECT n_pairs, tp, (n_pairs - tp)::BIGINT AS fp, n_true_pairs,
          CASE WHEN n_pairs > 0
            THEN round(tp::DOUBLE / n_pairs, 6) + 0 END AS precision,
          CASE WHEN n_true_pairs > 0
            THEN round(tp::DOUBLE / n_true_pairs, 6) + 0 END AS recall
        FROM found, truth)
      SELECT n_pairs, tp, fp, n_true_pairs, precision, recall,
        CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
            AND precision + recall > 0
          THEN round(2.0 * precision * recall / (precision + recall), 6)
            + 0 END AS f1
      FROM base""",

    // Replay of Similarity.silhouette: the IVF/kmeans training CTEs
    // verbatim (seeds, 2 fixed-point Lloyd rounds), then per point the
    // top-2 centroid cosines — a = own-centroid distance, b = nearest-
    // other distance, s = 1 − a/b (a ≤ b since assignment IS nearest-
    // centroid; equidistant-at-0 pins 0) — and the fixed-point mean
    // per cell (2^20 long sum, exact in any order).
    "embed_silhouette" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdateFixed("assign1", "cents2")}
      , ranked AS (
        SELECT vec_id, c_id, cc, row_number() OVER (
            PARTITION BY vec_id ORDER BY cc DESC, c_id) AS rn
        FROM (
          SELECT e.vec_id, c.c_id, ${kmCos("e", "c")} AS cc
          FROM embeddings e CROSS JOIN cents2 c)
      ), topc AS (
        SELECT vec_id,
          max(CASE WHEN rn = 1 THEN c_id END) AS cell,
          max(CASE WHEN rn = 1 THEN cc END) AS c1,
          max(CASE WHEN rn = 2 THEN cc END) AS c2
        FROM ranked WHERE rn <= 2 GROUP BY vec_id
      ), silc AS (
        SELECT cell, CASE WHEN c2 >= 1 THEN 0.0
          ELSE 1 - (1 - c1) / (1 - c2) END AS sil
        FROM topc
      )
      SELECT cell, COUNT(*)::BIGINT AS n,
        SUM(CAST(round(sil * 1048576.0) AS BIGINT))::DOUBLE
          / COUNT(*) / 1048576.0 AS silhouette
      FROM silc GROUP BY cell ORDER BY cell""",

    "similarity_topk" -> s"""
      WITH scored AS (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id, ${cosD("a", "b")} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < $NQueryVecs)
      SELECT q_id, n_id, cosine,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    "similarity_ann" -> s"""${signBandCtes(16, 4)}, cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        FROM banded q JOIN banded c
          ON q.band = c.band AND q.bsig = c.bsig AND q.vec_id != c.vec_id
        WHERE q.vec_id < $NQueryVecs
      ), scored AS (
        SELECT q_id, n_id, ${cosD("a", "b")} AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.q_id
        JOIN embeddings b ON b.vec_id = cand.n_id)
      SELECT q_id, n_id, cosine,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of Similarity.hammingTopK from the RAW floats: recompute the
    // 64 sign bits per vector (the same hyperplane family as the banded
    // CTEs) and count disagreeing planes — the packed-long xor+popcount on
    // the Spark side is representation, not semantics.
    "similarity_hamming" -> s"""
      WITH bits AS (
        SELECT vec_id, list_transform(generate_series(0, 63), j ->
          CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
            d -> embedding[d]::DOUBLE * (((j*64 + (d-1)) * 2654435761) % 97 - 48)::DOUBLE)),
            (x, y) -> x + y) >= 0 THEN 1 ELSE 0 END) AS sb
        FROM embeddings
      ), scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
          CAST(list_sum(list_transform(generate_series(1, 64), j ->
            CASE WHEN q.sb[j] != c.sb[j] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        FROM bits q JOIN bits c ON q.vec_id != c.vec_id
        WHERE q.vec_id < $NQueryVecs)
      SELECT q_id, n_id, hamming,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY hamming ASC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // BRUTE ground truth for the banded pairs: every pair within the
    // radius, no banding replay — recall-completeness is ON TRIAL here.
    // 60-bit codes pack into a BIGINT (bit 60+ never set, so xor/popcount
    // and the pack arithmetic stay in signed range on both engines).
    "similarity_hamming_pairs" -> s"""
      WITH bits AS (
        SELECT vec_id, list_transform(generate_series(0, 59), j ->
          CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
            d -> embedding[d]::DOUBLE * (((j*64 + (d-1)) * 2654435761) % 97 - 48)::DOUBLE)),
            (x, y) -> x + y) >= 0 THEN 1 ELSE 0 END) AS sb
        FROM embeddings
      ), codes AS (
        SELECT vec_id, list_sum(list_transform(generate_series(1, 60),
          j -> sb[j] * CAST(power(2, j-1) AS BIGINT)))::BIGINT AS code
        FROM bits)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        bit_count(xor(a.code, b.code))::BIGINT AS hamming
      FROM codes a JOIN codes b ON a.vec_id < b.vec_id
      WHERE bit_count(xor(a.code, b.code)) <= $HammingRadius
      ORDER BY vec_a, vec_b""",

    // Replay of Similarity.hardNegatives: the brute top-k with the label
    // inequality fused into the pair condition.
    "hard_negatives" -> s"""
      WITH scored AS (
        SELECT a.vec_id AS q_id, a.label AS q_label,
          b.vec_id AS n_id, b.label AS n_label, ${cosD("a", "b")} AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.vec_id != b.vec_id AND a.label != b.label
        WHERE a.vec_id < $NQueryVecs)
      SELECT q_id, q_label, n_id, n_label, cosine,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of Similarity.bitextMine: top-2 cosine neighbors across the
    // parity split, margin = best − runner-up over the 6dp-rounded
    // scores (NOT re-rounded — a second rounding would sit on exact
    // midpoints); missing runner-up degrades to 0.
    "bitext_mine" -> s"""
      WITH sa AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
           sb AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
      scored AS (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id, ${cosD("a", "b")} AS cosine
        FROM sa a CROSS JOIN sb b),
      rk AS (SELECT *, row_number() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             FROM scored),
      p AS (SELECT q_id,
              max(CASE WHEN rank = 1 THEN n_id END) AS n_id,
              max(CASE WHEN rank = 1 THEN cosine END) AS cosine,
              coalesce(max(CASE WHEN rank = 2 THEN cosine END),
                CAST(0 AS DOUBLE)) AS runner_up
            FROM rk WHERE rank <= 2 GROUP BY q_id)
      SELECT q_id, n_id, cosine, runner_up, cosine - runner_up AS margin
      FROM p WHERE cosine - runner_up >= CAST('$BitextMinMargin' AS DOUBLE)
      ORDER BY q_id""",

    // Replay of Pq.train/encode/adcTopK: per-subspace seeds, one
    // fixed-point Lloyd round, argmin encoding (6dp distances, c_id
    // tie-break), per-query lookup table, exact fixed-point ADC sum.
    "similarity_pq" -> s"""$pqCtes
      SELECT q_id, n_id, adist,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY adist, n_id) AS BIGINT) AS rank
      FROM pairs
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of Pq.ivfAdcTopK: the ivf oracle's cell chain (identical
    // training params) + the PQ chain + candidate-restricted ADC.
    "similarity_ivfpq" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdateFixed("assign1", "cents2")}
      , ${kmAssign("cents2", "cells")}
      , ${kmAssignProbes("cents2", "qcells", IvfProbes)}
      , cand AS (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id
        FROM qcells q JOIN cells e ON q.cell = e.cell AND q.vec_id != e.vec_id
      ), $pqChain, pairs AS (
        SELECT cand.q_id, cand.n_id,
          SUM(lut.pd)::DOUBLE / 1048576.0 AS adist
        FROM cand
        JOIN enc ON enc.vec_id = cand.n_id
        JOIN lut ON lut.q_id = cand.q_id AND lut.s = enc.s
                AND lut.c_id = enc.c_id
        GROUP BY 1, 2
      )
      SELECT q_id, n_id, adist,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY adist, n_id) AS BIGINT) AS rank
      FROM pairs
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of Pq.adcRecall: exact full-width L2 truth (sequential
    // fold, 6dp, id tie-break) LEFT JOINed with the ADC top-k.
    "pq_recall" -> s"""$pqCtes,
      adc AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id, adist,
            row_number() OVER (
              PARTITION BY q_id ORDER BY adist, n_id) AS rank
          FROM pairs)
        WHERE rank <= $TopK
      ), truth AS (
        SELECT q_id, n_id FROM (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            row_number() OVER (PARTITION BY a.vec_id ORDER BY
              (round(list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 64),
                   d -> (a.embedding[d]::DOUBLE - b.embedding[d]::DOUBLE)
                      * (a.embedding[d]::DOUBLE - b.embedding[d]::DOUBLE))),
                 (x, y) -> x + y), 6) + 0) ASC, b.vec_id ASC) AS rank
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
          WHERE a.vec_id < $NQueryVecs
            AND len(a.embedding) = 64 AND len(b.embedding) = 64)
        WHERE rank <= $TopK
      )
      SELECT t.q_id, count(adc.n_id)::BIGINT AS hits,
        round(count(adc.n_id)::DOUBLE / $TopK, 6) AS recall
      FROM truth t LEFT JOIN adc ON adc.q_id = t.q_id AND adc.n_id = t.n_id
      GROUP BY t.q_id
      ORDER BY t.q_id""",

    // Replay of Similarity.bitextMineScalable incl. the oversized-bucket
    // guard: sign-LSH bands on both parity halves, bucket population
    // counted across BOTH sides, over-cap buckets join on the extended
    // (band, bsig, nsig) key; margin over the candidate top-2 only.
    "bitext_mine_scalable" -> s"""${signBandCtes(BitextBands, BitextR)},
      banded2 AS (
        SELECT vec_id, band, bsig,
          array_to_string(sb[((band+1)%$BitextBands)*$BitextR+1 :
            ((band+1)%$BitextBands)*$BitextR+$BitextR], '-') AS nsig
        FROM banded JOIN bits USING (vec_id)
      ), sized AS (
        SELECT banded2.*, count(*) OVER (PARTITION BY band, bsig) AS n
        FROM banded2
      ), cand AS (
        SELECT DISTINCT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id
          FROM sized q JOIN sized c
            ON q.band = c.band AND q.bsig = c.bsig
          WHERE q.vec_id % 2 = 0 AND c.vec_id % 2 = 1
            AND q.n <= $BitextMaxBucket
          UNION ALL
          SELECT q.vec_id, c.vec_id
          FROM sized q JOIN sized c
            ON q.band = c.band AND q.bsig = c.bsig AND q.nsig = c.nsig
          WHERE q.vec_id % 2 = 0 AND c.vec_id % 2 = 1
            AND q.n > $BitextMaxBucket)
      ), scored AS (
        SELECT q_id, n_id, ${cosD("a", "b")} AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.q_id
        JOIN embeddings b ON b.vec_id = cand.n_id
      ), rk AS (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
        FROM scored
      ), p AS (
        SELECT q_id,
          max(CASE WHEN rank = 1 THEN n_id END) AS n_id,
          max(CASE WHEN rank = 1 THEN cosine END) AS cosine,
          coalesce(max(CASE WHEN rank = 2 THEN cosine END),
            CAST(0 AS DOUBLE)) AS runner_up
        FROM rk WHERE rank <= 2 GROUP BY q_id)
      SELECT q_id, n_id, cosine, runner_up, cosine - runner_up AS margin
      FROM p WHERE cosine - runner_up >= CAST('$BitextMinMargin' AS DOUBLE)
      ORDER BY q_id""",

    // Replay of Similarity.annRecall: the similarity_topk truth set LEFT
    // JOINed with the similarity_ann approximate set — count(hits)/k.
    "ann_recall" -> s"""${signBandCtes(16, 4)}, truth AS (
        SELECT q_id, n_id FROM (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY ${cosD("a", "b")} DESC, b.vec_id) AS rank
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
          WHERE a.vec_id < $NQueryVecs)
        WHERE rank <= $TopK
      ), cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        FROM banded q JOIN banded c
          ON q.band = c.band AND q.bsig = c.bsig AND q.vec_id != c.vec_id
        WHERE q.vec_id < $NQueryVecs
      ), approx AS (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY ${cosD("a", "b")} DESC, n_id) AS rank
          FROM cand
          JOIN embeddings a ON a.vec_id = cand.q_id
          JOIN embeddings b ON b.vec_id = cand.n_id)
        WHERE rank <= $TopK
      )
      SELECT t.q_id, count(ap.n_id)::BIGINT AS hits,
        round(count(ap.n_id)::DOUBLE / $TopK, 6) AS recall
      FROM truth t LEFT JOIN approx ap
        ON ap.q_id = t.q_id AND ap.n_id = t.n_id
      GROUP BY t.q_id
      ORDER BY t.q_id""",

    // Replay of Dedup.containmentPairs: same banded candidates as
    // dedup_minhash_pairs, asymmetric containment both directions.
    "dedup_containment" -> s"""$minhashCtes
      SELECT * FROM (
        SELECT doc_a, doc_b,
          round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(a.shingles)::DOUBLE, 6) AS cont_a,
          round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(b.shingles)::DOUBLE, 6) AS cont_b
        FROM cand
        JOIN sh a ON a.doc_id = cand.doc_a
        JOIN sh b ON b.doc_id = cand.doc_b)
      WHERE cont_a >= $ContainThreshold OR cont_b >= $ContainThreshold
      ORDER BY doc_a, doc_b""",

    // Replay of Dedup.weightedJaccardPairs: capped-tf (term, index)
    // expansion hashed with the same md5/mod-P contract (chr(1)
    // separator), the standard minhash/banding over the expanded
    // elements, exact Jaccard of the expanded sets = weighted Jaccard of
    // the capped tf vectors.
    "dedup_weighted" -> s"""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
      tf AS (SELECT doc_id, w, least(count(*), $WeightedMaxTf) AS tf
             FROM w GROUP BY doc_id, w),
      el AS (SELECT doc_id,
               ('0x'||substr(md5(w || chr(1) || i), 1, 8))::BIGINT % $P AS h
             FROM tf, unnest(generate_series(1, tf)) AS t(i)),
      sh AS (SELECT doc_id, list_sort(list(h)) AS els FROM el GROUP BY doc_id),
      mh AS (
        SELECT doc_id, list_transform(generate_series(0, ${MinhashK - 1}), i ->
          list_min(list_transform(els, h ->
            ((((i+1)*2654435761) % $P) * h + (((i+1)*40503) % $P)) % $P))) AS sig
        FROM sh
      ), banded AS (
        SELECT doc_id, j AS band,
          array_to_string(sig[j*$MinhashR+1 : j*$MinhashR+$MinhashR], '-') AS bsig
        FROM mh, unnest(generate_series(0, ${MinhashB - 1})) AS t(j)
      ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
      )
      SELECT * FROM (
        SELECT doc_a, doc_b,
          round(len(list_intersect(a.els, b.els))::DOUBLE
            / len(list_distinct(list_concat(a.els, b.els)))::DOUBLE, 6)
            AS wjaccard
        FROM cand
        JOIN sh a ON a.doc_id = cand.doc_a
        JOIN sh b ON b.doc_id = cand.doc_b)
      WHERE wjaccard >= $WeightedThreshold
      ORDER BY doc_a, doc_b""",

    // Replay of Dedup.containmentPairsStratified over the skewed fixture:
    // size strata via binary-string length (exact integer log2 on both
    // engines), the 3-level band ladder, the worst-case-Jaccard level
    // requirement, the oversized-bucket key extension, exact containment
    // verify.
    "dedup_containment_skew" -> s"""
      ${shingleCtes.replace("FROM documents", s"""FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id,
          array_to_string((string_split(text, ' '))[1:5], ' ') AS text
        FROM documents
        WHERE doc_id % 40 = 0 AND len(string_split(text, ' ')) >= 40)""")},
      mh AS (
        SELECT doc_id, list_transform(generate_series(0, ${StratK - 1}), i ->
          list_min(list_transform(shingles, h ->
            ((((i+1)*2654435761) % $P) * h + (((i+1)*40503) % $P)) % $P))) AS sig
        FROM sh
      ), sz AS (
        SELECT doc_id,
          length(printf('%b', len(shingles))) - 1 AS stratum
        FROM sh
      ), lv AS (
        SELECT * FROM (VALUES (1, 32, 2), (2, $StratK, 1)) t(level, b, r)
      ), banded AS (
        SELECT mh.doc_id, sz.stratum, lv.level, j AS band,
          array_to_string(sig[j*lv.r+1 : j*lv.r+lv.r], '-') AS bsig,
          array_to_string(
            sig[((j+1)%lv.b)*lv.r+1 : ((j+1)%lv.b)*lv.r+lv.r], '-') AS nsig
        FROM mh JOIN sz USING (doc_id) CROSS JOIN lv,
          unnest(generate_series(0, lv.b - 1)) AS t(j)
      ), sized AS (
        SELECT banded.*, count(*) OVER (PARTITION BY level, band, bsig) AS n
        FROM banded
      ), prelim AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
          x.stratum AS sx, y.stratum AS sy, x.level AS level
        FROM sized x JOIN sized y
          ON x.level = y.level AND x.band = y.band AND x.bsig = y.bsig
         AND x.doc_id < y.doc_id
        WHERE x.n <= $StratMaxBucket
        UNION ALL
        SELECT x.doc_id, y.doc_id, x.stratum, y.stratum, x.level
        FROM sized x JOIN sized y
          ON x.level = y.level AND x.band = y.band AND x.bsig = y.bsig
         AND x.nsig = y.nsig AND x.doc_id < y.doc_id
        WHERE x.n > $StratMaxBucket
      ), cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT doc_a, doc_b, level,
            ($ContainThreshold * power(2, least(sx, sy)))
              / (power(2, least(sx, sy)) + power(2, greatest(sx, sy) + 1)
                 - $ContainThreshold * power(2, least(sx, sy))) AS jmin
          FROM prelim)
        WHERE (CASE WHEN jmin >= 0.177 THEN 1 ELSE 2 END) = level
      )
      SELECT doc_a, doc_b, cont_a, cont_b FROM (
        SELECT doc_a, doc_b,
          round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(a.shingles)::DOUBLE, 6) AS cont_a,
          round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(b.shingles)::DOUBLE, 6) AS cont_b
        FROM cand
        JOIN sh a ON a.doc_id = cand.doc_a
        JOIN sh b ON b.doc_id = cand.doc_b)
      WHERE cont_a >= $ContainThreshold OR cont_b >= $ContainThreshold
      ORDER BY doc_a, doc_b""",

    // Replay of TextAnalysis.bpePairCounts: distinct-word counts, then
    // adjacent char pairs per vocabulary entry weighted by word count.
    "bpe_pair_counts" -> s"""
      WITH w AS (
        SELECT w, count(*)::BIGINT AS wn FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE length(w) >= 2 GROUP BY w
      ), p AS (
        SELECT substr(w, i, 2) AS pair, wn
        FROM w, unnest(generate_series(1, length(w) - 1)) AS t(i)
      )
      SELECT pair, sum(wn)::BIGINT AS cnt FROM p GROUP BY pair
      HAVING sum(wn) >= $BpeMinCount ORDER BY pair""",

    // Replay of Dedup.knnJaccard: the minhash candidate pairs
    // symmetrized, per-query top-k by (jaccard desc, n_id).
    "text_knn" -> s"""$minhashCtes, sym AS (
        SELECT doc_a AS q_id, doc_b AS n_id, jaccard FROM pairs
        UNION ALL
        SELECT doc_b AS q_id, doc_a AS n_id, jaccard FROM pairs)
      SELECT q_id, n_id, jaccard,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY jaccard DESC, n_id) AS BIGINT) AS rank
      FROM sym
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of TextAnalysis.pmiCollocations: unigram + adjacent-bigram
    // counts, totals as one-row CTEs, PMI in the identical operand order
    // (c_xy·n_tok·n_tok)/(n_pair·c1·c2), ln, 6dp, -0.0 normalized.
    "word_pmi" -> s"""
      WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
      uni AS (
        SELECT u.w AS w, count(*)::BIGINT AS c_w
        FROM (SELECT unnest(w) AS w FROM ws) u GROUP BY 1),
      bg AS (
        SELECT w[i] AS w1, w[i+1] AS w2, count(*)::BIGINT AS c_xy
        FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)
        GROUP BY 1, 2),
      tot AS (SELECT sum(c_w)::BIGINT AS n_tok FROM uni),
      ptot AS (SELECT sum(c_xy)::BIGINT AS n_pair FROM bg)
      SELECT w1, w2, c_xy,
        (round(ln((c_xy::DOUBLE * n_tok * n_tok)
           / (n_pair::DOUBLE * u1.c_w * u2.c_w)), 6) + 0) AS pmi
      FROM bg
      JOIN uni u1 ON u1.w = bg.w1
      JOIN uni u2 ON u2.w = bg.w2, tot, ptot
      WHERE c_xy >= $PmiMinPair
      ORDER BY w1, w2""",

    // Replay of TextAnalysis.charEntropy's micro-nat contract:
    // micro = Σ c·round(ln(c/n)·1e6) as BIGINT, entropy = -micro/1e6/n
    // at 6dp (+0 normalizes IEEE -0.0, as everywhere else).
    // sql_functions: the registered-name route must produce the same
    // arithmetic as the direct kernels — entropy per the text_entropy
    // micro-nat contract, Jaro-Winkler per DuckDB's native function
    // (rapidfuzz-compatible on ASCII, the dedup_jarowinkler convention).
    "sql_functions" -> """
      WITH ch AS (
        SELECT doc_id, substr(text, i, 1) AS c
        FROM documents, unnest(generate_series(1, length(text))) AS t(i)
      ), cc AS (
        SELECT doc_id, c, count(*)::BIGINT AS cnt FROM ch GROUP BY doc_id, c
      ), tot AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n FROM cc GROUP BY doc_id
      ), mic AS (
        SELECT cc.doc_id,
          sum(cnt * CAST(round(ln(cnt::DOUBLE / n::DOUBLE) * 1e6) AS BIGINT))::BIGINT AS micro,
          any_value(n) AS n
        FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id
      )
      SELECT d.doc_id,
        (round(-micro::DOUBLE / 1e6 / n::DOUBLE, 6) + 0) AS entropy,
        (round(jaro_winkler_similarity(d.lang, 'en'), 6) + 0) AS jw_en
      FROM documents d JOIN mic ON d.doc_id = mic.doc_id
      ORDER BY d.doc_id""",

    "text_entropy" -> """
      WITH ch AS (
        SELECT doc_id, substr(text, i, 1) AS c
        FROM documents, unnest(generate_series(1, length(text))) AS t(i)
      ), cc AS (
        SELECT doc_id, c, count(*)::BIGINT AS cnt FROM ch GROUP BY doc_id, c
      ), tot AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n FROM cc GROUP BY doc_id
      ), mic AS (
        SELECT cc.doc_id,
          sum(cnt * CAST(round(ln(cnt::DOUBLE / n::DOUBLE) * 1e6) AS BIGINT))::BIGINT AS micro,
          any_value(n) AS n
        FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id
      )
      SELECT doc_id, (round(-micro::DOUBLE / 1e6 / n::DOUBLE, 6) + 0) AS entropy
      FROM mic ORDER BY doc_id""",

    // Replay of Similarity.ivfTopK with $KmeansIters Lloyd rounds:
    // deterministic seeds (vec_id % $CentroidEvery), assignment by
    // max-cosine with c_id tie-break, centroid = sequential-sum mean.
    // Replay of Similarity.semanticDedup (1 fixed-point Lloyd round):
    // identical centroids and cells as the IVF oracles, then the
    // intra-cell lower-id drop at the 6dp-rounded cosine threshold.
    "dedup_semantic" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "cells")}
      , dropped AS (
        SELECT DISTINCT y.vec_id
        FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
        JOIN embeddings a ON a.vec_id = x.vec_id
        JOIN embeddings b ON b.vec_id = y.vec_id
        WHERE ${cosD("a", "b")} >= $SemDedupThreshold)
      SELECT c.vec_id, c.cell FROM cells c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY c.vec_id""",

    "similarity_ivf" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdate("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdate("assign1", "cents2")}
      , ${kmAssign("cents2", "cells")}
      , cand AS (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id
        FROM cells q JOIN cells e ON q.cell = e.cell AND q.vec_id != e.vec_id
        WHERE q.vec_id < $NQueryVecs
      ), scored AS (
        SELECT q_id, n_id, ${cosD("a", "b")} AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.q_id
        JOIN embeddings b ON b.vec_id = cand.n_id)
      SELECT q_id, n_id, cosine,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of the DEFAULT (scale-path) ivfTopK: same Lloyd structure as
    // similarity_ivf but with the order-insensitive FIXED-POINT centroid
    // update — the production path is now just as oracle-replayable as the
    // sequential one.
    "similarity_ivf_scalable" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdateFixed("assign1", "cents2")}
      , ${kmAssign("cents2", "cells")}
      , cand AS (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id
        FROM cells q JOIN cells e ON q.cell = e.cell AND q.vec_id != e.vec_id
        WHERE q.vec_id < $NQueryVecs
      ), scored AS (
        SELECT q_id, n_id, ${cosD("a", "b")} AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.q_id
        JOIN embeddings b ON b.vec_id = cand.n_id)
      SELECT q_id, n_id, cosine,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, n_id) AS BIGINT) AS rank
      FROM scored
      QUALIFY rank <= $TopK
      ORDER BY q_id, rank""",

    // Replay of Similarity.maxSimTopK: per (query token, doc) max of
    // 6dp cosines, micro-unit quantization, exact long document sums,
    // rank by (sum desc, doc id).
    "retrieval_maxsim" -> s"""
      WITH tok AS (
        SELECT vec_id // $MaxSimTokens AS doc_id,
          vec_id % $MaxSimTokens AS q_tok, embedding
        FROM embeddings
      ), q AS (SELECT doc_id AS q_id, q_tok, embedding FROM tok
               WHERE doc_id < $MaxSimQ),
      c AS (SELECT doc_id, embedding FROM tok WHERE doc_id >= $MaxSimQ),
      tm AS (
        SELECT q.q_id, q.q_tok, c.doc_id, max(${cosD("q", "c")}) AS mc
        FROM q, c GROUP BY 1, 2, 3
      ), sc AS (
        SELECT q_id, doc_id,
          sum(CAST(round(mc * 1000000) AS BIGINT)) AS fx
        FROM tm GROUP BY 1, 2)
      SELECT q_id, doc_id AS n_id, (round(fx / 1000000.0, 6) + 0) AS maxsim,
        CAST(row_number() OVER (
          PARTITION BY q_id ORDER BY fx DESC, doc_id) AS BIGINT) AS rank
      FROM sc
      QUALIFY rank <= $MaxSimK
      ORDER BY q_id, rank""",

    // Replay of Similarity.kmeans: the similarity_ivf_scalable Lloyd
    // chain (fixed-point updates) ending at assignments + cell sizes
    // instead of a query scan.
    "embed_kmeans" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdateFixed("assign1", "cents2")}
      , ${kmAssign("cents2", "cells")}
      , sz AS (SELECT cell, count(*) AS cell_size FROM cells GROUP BY cell)
      SELECT c.vec_id, c.cell, sz.cell_size
      FROM cells c JOIN sz USING (cell)
      ORDER BY c.vec_id""",

    // The embed_kmeans replay + per-cell argmax of member-to-own-final-
    // centroid cosine (ties to the min vec_id).
    "embed_medoids" -> s"""
      WITH cents0 AS (
        SELECT vec_id AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM embeddings WHERE vec_id % $CentroidEvery = 0
      ), ${kmAssign("cents0", "assign0")}
      , ${kmUpdateFixed("assign0", "cents1")}
      , ${kmAssign("cents1", "assign1")}
      , ${kmUpdateFixed("assign1", "cents2")}
      , ${kmAssign("cents2", "cells")}
      , sc AS (
        SELECT a.cell, e.vec_id, ${kmCos("e", "c")} AS m_cos
        FROM cells a JOIN embeddings e USING (vec_id)
        JOIN cents2 c ON c.c_id = a.cell
      ), r AS (
        SELECT cell, vec_id, m_cos,
          row_number() OVER (PARTITION BY cell
            ORDER BY m_cos DESC, vec_id) AS rn,
          count(*) OVER (PARTITION BY cell) AS cell_size
        FROM sc)
      SELECT cell, vec_id AS medoid, m_cos AS cosine,
        cell_size::BIGINT AS cell_size
      FROM r WHERE rn = 1 ORDER BY cell""",

    // Replay of the multi-probe IVF (probes=2): corpus cells by rn=1,
    // query cells by rn<=2; cells are disjoint so candidates are unique.
    "similarity_ivf_probes" -> ivfProbesOracle,

    // The PERSISTED index path computes the identical centroids, cells
    // and probes — the parquet roundtrip must not change one bit, so the
    // oracle is the in-memory multi-probe replay verbatim.
    "similarity_ivf_index" -> ivfProbesOracle,

    // Replay of ivfWrite + ivfAppend + ivfQueryIndex: training on the
    // ORIGINAL corpus (frozen centroids), cells and scoring over the
    // union with the appended batch (duplicate payloads, offset ids).
    "similarity_ivf_append" -> ivfIndexOracle("corpus_all", s"""corpus_all AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + $AppendOffset AS vec_id, embedding FROM embeddings
      ), """),

    // Replay of Sketches.sampledQuantiles: identical hash-sampled subset,
    // exact interpolated percentiles of the sample.
    "sketch_quantiles" -> s"""
      SELECT l_returnflag,
        round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
      FROM lineitem
      WHERE ('0x'||substr(md5((l_orderkey*10000 + l_linenumber)::VARCHAR),1,8))::BIGINT
        % $P < ${sampleThreshold(0.2)}
      GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Same whole-corpus oracle as sketch_quantiles — the shard-merge
    // contract says the union of per-shard samples IS the whole sample.
    "sketch_quantile_shards" -> s"""
      SELECT l_returnflag,
        round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
      FROM lineitem
      WHERE ('0x'||substr(md5((l_orderkey*10000 + l_linenumber)::VARCHAR),1,8))::BIGINT
        % $P < ${sampleThreshold(0.2)}
      GROUP BY l_returnflag ORDER BY l_returnflag""",

    "sketch_kmv" -> s"""
      WITH hs AS (
        SELECT DISTINCT ('0x'||substr(md5(l_partkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem
      ), smallest AS (
        SELECT max(h) AS hk, count(*) AS n FROM (
          SELECT h FROM hs ORDER BY h LIMIT 256)
      )
      SELECT
        (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_distinct,
        CASE WHEN n < 256 THEN n::DOUBLE
          ELSE round(255.0 * $P / hk, 4) END AS kmv_estimate
      FROM smallest""",

    // Replay of Sampling.deterministic: keep iff h32(doc_id) < rate * P
    // (the threshold literal is computed by the same function both sides).
    "sample_deterministic" -> s"""
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P
        < ${sampleThreshold(SampleRate)}
      ORDER BY doc_id""",

    // Replay of Sampling.deterministicShuffle as the one-partition
    // window form: row_number over (h32(id ++ salt), id).
    "shuffle_deterministic" -> s"""
      SELECT doc_id, row_number() OVER (
          ORDER BY ('0x'||substr(md5(doc_id::VARCHAR || '$ShuffleSalt'),1,8))::BIGINT % $P,
            doc_id) - 1 AS pos
      FROM documents ORDER BY pos""",

    // Replay of Sampling.stratified: per-lang thresholds via CASE.
    "sample_stratified" -> s"""
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P
        < CASE ${StratRates.toSeq.sorted.map { case (v, r) =>
            s"WHEN lang = '$v' THEN ${sampleThreshold(r)}"
          }.mkString(" ")}
          ELSE ${sampleThreshold(StratDefault)} END
      ORDER BY doc_id""",

    // Replay of Sampling.shardByBudget: shard = exclusive prefix sum of
    // tokens over ascending id, integer-divided by the budget. The oracle
    // uses the one-partition window form the operator deliberately avoids;
    // the distributed prefix sum must equal it exactly.
    "shard_by_budget" -> s"""
      SELECT doc_id, n_chars,
        CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          // $ShardBudget AS BIGINT) AS shard
      FROM documents ORDER BY doc_id""",

    // Replay of Sampling.shardManifest: the shard window + one rollup
    // with the Σ h32(id) mod P checksum.
    "shard_manifest" -> s"""
      WITH s AS (
        SELECT doc_id, n_chars,
          CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // $ShardBudget AS BIGINT) AS shard
        FROM documents)
      SELECT shard, count(*)::BIGINT AS n_docs,
        sum(n_chars)::BIGINT AS n_tokens,
        (sum(('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P)::HUGEINT
          % $P)::BIGINT AS id_checksum
      FROM s GROUP BY 1 ORDER BY shard""",

    // Replay of Sampling.packSequences: next-fit per hash bucket, walked
    // one row per iteration by a recursive CTE (iteration depth = the
    // largest bucket, ~n/nBuckets rows).
    "pack_sequences" -> s"""
      WITH RECURSIVE d AS (
        SELECT doc_id, n_chars, bucket,
          row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        FROM (
          SELECT doc_id, n_chars,
            ('0x'||substr(md5(doc_id::VARCHAR || '$PackSalt'),1,8))::BIGINT
              % $P % $PackBuckets AS bucket
          FROM documents)),
      rec AS (
        SELECT bucket, rn, doc_id, n_chars,
          CAST(0 AS BIGINT) AS pack, n_chars AS cum
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.bucket, d.rn, d.doc_id, d.n_chars,
          CASE WHEN r.cum + d.n_chars > $PackBudget
            THEN r.pack + 1 ELSE r.pack END,
          CASE WHEN r.cum + d.n_chars > $PackBudget
            THEN d.n_chars ELSE r.cum + d.n_chars END
        FROM rec r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1)
      SELECT doc_id, n_chars, bucket, pack FROM rec ORDER BY doc_id""",

    // Replay of Sampling.perStratumTokenCap: exclusive prefix sum of
    // tokens per stratum under the salted-hash draw order, keep while
    // under budget.
    "stratum_token_cap" -> s"""
      SELECT doc_id, lang, source, n_chars FROM (
        SELECT doc_id, lang, source, n_chars,
          COALESCE(SUM(n_chars) OVER (PARTITION BY source
            ORDER BY ('0x'||substr(md5(doc_id::VARCHAR || '$CapSalt'),1,8))::BIGINT % $P,
              doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM documents)
      WHERE cum < $CapBudget
      ORDER BY doc_id""",

    // Replay of chunk |> pack: the text_chunk word-slice arithmetic at
    // overlap 0 produces the pieces; the pack_sequences recursive
    // next-fit walks them per hash bucket.
    "chunk_pack" -> s"""
      WITH RECURSIVE ws AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          greatest(1, (len(string_split(text, ' '))
            + $ChunkSize - 1) // $ChunkSize) AS nc
        FROM documents),
      pieces AS (
        SELECT doc_id * 1024 + cid AS piece_id,
          len(w[cid*$ChunkSize+1 : cid*$ChunkSize+$ChunkSize])::BIGINT
            AS n_chunk_tokens
        FROM ws, unnest(generate_series(0, nc-1)) AS t(cid)),
      d AS (
        SELECT piece_id, n_chunk_tokens, bucket,
          row_number() OVER (PARTITION BY bucket ORDER BY piece_id) AS rn
        FROM (
          SELECT piece_id, n_chunk_tokens,
            ('0x'||substr(md5(piece_id::VARCHAR || '$PackSalt'),1,8))::BIGINT
              % $P % $PackBuckets AS bucket
          FROM pieces)),
      rec AS (
        SELECT bucket, rn, piece_id, n_chunk_tokens,
          CAST(0 AS BIGINT) AS pack, n_chunk_tokens AS cum
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.bucket, d.rn, d.piece_id, d.n_chunk_tokens,
          CASE WHEN r.cum + d.n_chunk_tokens > $ChunkPackBudget
            THEN r.pack + 1 ELSE r.pack END,
          CASE WHEN r.cum + d.n_chunk_tokens > $ChunkPackBudget
            THEN d.n_chunk_tokens ELSE r.cum + d.n_chunk_tokens END
        FROM rec r JOIN d ON d.bucket = r.bucket AND d.rn = r.rn + 1)
      SELECT piece_id, n_chunk_tokens, bucket, pack FROM rec
      ORDER BY piece_id""",

    // Replay of Profile.percentileRank: percent_rank under the total
    // (value, id) order — tie-free, so both engines compute
    // (row_number-1)/(n-1) exactly; 6 dp rounding on positive values
    // agrees between HALF_UP and round-half-away.
    "score_percentile" -> """
      SELECT doc_id, lang, n_chars,
        round(percent_rank() OVER (
          PARTITION BY lang ORDER BY n_chars, doc_id), 6) AS pct_rank
      FROM documents ORDER BY doc_id""",

    // Replay: merged-shard KMV == whole-corpus KMV (shards partition the
    // rows, so the estimate is the sketch_kmv estimate computed once).
    "sketch_kmv_shards" -> s"""
      WITH hs AS (
        SELECT DISTINCT ('0x'||substr(md5(l_partkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem
      ), smallest AS (
        SELECT max(h) AS hk, count(*) AS n FROM (
          SELECT h FROM hs ORDER BY h LIMIT 256)
      )
      SELECT CASE WHEN n < 256 THEN n::DOUBLE
        ELSE round(255.0 * $P / hk, 4) END AS kmv_estimate
      FROM smallest""",

    // Replay of Sampling.rebalance: same aggregate, same IEEE-double
    // threshold arithmetic in the same operation order.
    "mixture_rebalance" -> s"""
      WITH t AS (
        SELECT lang AS s,
          CASE ${RebalanceTargets.toSeq.sorted.map { case (v, w) =>
            s"WHEN lang = '$v' THEN CAST($w AS DOUBLE)"
          }.mkString(" ")} END AS w,
          SUM(n_chars) AS tok
        FROM documents
        WHERE lang IN (${RebalanceTargets.keys.toSeq.sorted
          .map(v => s"'$v'").mkString(", ")})
        GROUP BY 1, 2),
      c AS (SELECT MIN(CAST(tok AS DOUBLE) / w) AS cmin FROM t),
      r AS (SELECT s,
        CAST(floor(w * cmin / CAST(tok AS DOUBLE) * $P) AS BIGINT) AS thr
        FROM t CROSS JOIN c)
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d JOIN r ON d.lang = r.s
      WHERE ('0x'||substr(md5(d.doc_id::VARCHAR),1,8))::BIGINT % $P < r.thr
      ORDER BY d.doc_id""",

    // Replay of Sampling.temperatureRebalance: weights p^alpha rounded to
    // 6dp (the cross-engine pow contract), then the rebalance threshold
    // arithmetic verbatim.
    "mixture_temperature" -> s"""
      WITH t AS (SELECT lang AS s, SUM(n_chars) AS tok
                 FROM documents GROUP BY 1),
      tt AS (SELECT SUM(tok) AS tot FROM t),
      w AS (SELECT s, tok,
              round(pow(CAST(tok AS DOUBLE) / CAST(tot AS DOUBLE),
                $TempAlpha), 6) + 0 AS w
            FROM t CROSS JOIN tt),
      c AS (SELECT MIN(CAST(tok AS DOUBLE) / w) AS cmin FROM w),
      r AS (SELECT s,
        CAST(floor(w * cmin / CAST(tok AS DOUBLE) * $P) AS BIGINT) AS thr
        FROM w CROSS JOIN c)
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d JOIN r ON d.lang = r.s
      WHERE ('0x'||substr(md5(d.doc_id::VARCHAR),1,8))::BIGINT % $P < r.thr
      ORDER BY d.doc_id""",

    // Replay of Sampling.topFraction: the one-partition window form the
    // operator deliberately avoids; k = ceil(p * n) with p = $TopFrac
    // (exact in binary, so both engines compute the same k).
    "sample_top_fraction" -> s"""
      SELECT doc_id, score, rank FROM (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
          row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents)
      WHERE rank <= CAST(ceil(CAST($TopFrac AS DOUBLE) *
        (SELECT count(*) FROM documents)) AS BIGINT)
      ORDER BY doc_id""",

    "text_quality" -> """
      SELECT doc_id,
        length(text)::BIGINT AS n_chars,
        len(string_split(text, ' '))::BIGINT AS n_words,
        len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct_words,
        round(len(list_distinct(string_split(text, ' ')))::DOUBLE
          / len(string_split(text, ' '))::DOUBLE, 6) AS ttr,
        round(len(list_filter(string_split(text, ' '),
            w -> w IN ('the','a','of','and','to','in')))::DOUBLE
          / len(string_split(text, ' '))::DOUBLE, 6) AS stopword_ratio,
        round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
          / length(text)::DOUBLE, 6) AS punct_ratio,
        round((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
          / len(string_split(text, ' '))::DOUBLE, 6) AS mean_word_len
      FROM documents ORDER BY doc_id""",

    "token_stats" -> """
      SELECT doc_id,
        len(string_split(text, ' '))::BIGINT AS ws_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS re_tokens,
        round(length(text)::DOUBLE
          / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::DOUBLE, 6)
          AS chars_per_token
      FROM documents ORDER BY doc_id""",

    "lang_dist" -> """
      SELECT lang, COUNT(*) AS n_docs, round(avg(length(text)), 6) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang""",

    "lang_id" -> s"""$LangIdPredSql
      SELECT doc_id, lang, predicted, marker_hits FROM pred
      ORDER BY doc_id""",

    // Confusion matrix over the same langId replay.
    "lang_confusion" -> s"""$LangIdPredSql
      SELECT lang, predicted, count(*)::BIGINT AS n FROM pred
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replay of TextAnalysis.langPurity: the 16/0 chunk slices, the
    // langId marker CASE per chunk, two-level doc rollup.
    "lang_purity" -> """
      WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w,
              greatest(1, (len(string_split(text, ' ')) + 15) // 16) AS nc
            FROM documents),
      ch AS (SELECT doc_id,
               array_to_string(w[cid*16+1 : cid*16+16], ' ') AS t
             FROM ws, unnest(generate_series(0, nc-1)) AS g(cid)),
      sc AS (SELECT doc_id,
               len(list_filter(string_split(t,' '), x -> x IN ('der','die','und','ist')))::BIGINT AS s_de,
               len(list_filter(string_split(t,' '), x -> x IN ('the','a','of','and')))::BIGINT AS s_en,
               len(list_filter(string_split(t,' '), x -> x IN ('el','los','que','y')))::BIGINT AS s_es,
               len(list_filter(string_split(t,' '), x -> x IN ('le','les','et','est')))::BIGINT AS s_fr,
               len(list_filter(string_split(t,' '), x -> x IN ('de5','shi4','le5','zai4')))::BIGINT AS s_zh
             FROM ch),
      pr AS (SELECT doc_id, CASE
               WHEN s_de = mx AND mx > 0 THEN 'de'
               WHEN s_en = mx AND mx > 0 THEN 'en'
               WHEN s_es = mx AND mx > 0 THEN 'es'
               WHEN s_fr = mx AND mx > 0 THEN 'fr'
               WHEN s_zh = mx AND mx > 0 THEN 'zh'
               ELSE 'und' END AS p
             FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx
                   FROM sc)),
      pc AS (SELECT doc_id, p, count(*)::BIGINT AS c FROM pr GROUP BY 1, 2)
      SELECT doc_id, sum(c)::BIGINT AS n_chunks,
        count(*)::BIGINT AS n_langs_detected,
        round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS majority_frac
      FROM pc GROUP BY 1 ORDER BY doc_id""",

    // Replay of TextAnalysis.heavyHittersGrouped: (lang, term) counts,
    // per-lang rank window, ties to the smaller term.
    "heavy_hitters_by_lang" -> """
      WITH c AS (SELECT lang AS "group", u.term, count(*)::BIGINT AS n
                 FROM documents, unnest(string_split(text, ' ')) u(term)
                 GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY "group"
              ORDER BY n DESC, term) AS rank
            FROM c)
      SELECT "group", term, n, rank FROM r WHERE rank <= 5
      ORDER BY "group", rank""",

    // Replay of Behavior.topPaths: two lags over (user, (ts, id)),
    // count per 3-path, top-10 with lexicographic tie-break.
    "events_paths" -> """
      WITH l AS (SELECT event_type AS t3,
                   lag(event_type, 1) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS t2,
                   lag(event_type, 2) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS t1
                 FROM events)
      SELECT t1 || '>' || t2 || '>' || t3 AS path, count(*)::BIGINT AS n
      FROM l WHERE t1 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 10""",

    // Replay of Dedup.minhashIncrementalPairs: the shared minhash CTEs
    // over the seen-plus-new union (copies under shifted ids), candidate
    // join restricted to cross-side pairs.
    "dedup_minhash_incr" -> s"""${minhashCtesOver("""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
        WHERE doc_id % 7 = 0 AND doc_id % 10 <> 0""")}
      , candi AS (
        SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS seen_id
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bsig = y.bsig
        WHERE (x.doc_id % 10 = 0 OR x.doc_id >= 1000000)
          AND NOT (y.doc_id % 10 = 0 OR y.doc_id >= 1000000))
      SELECT new_id, seen_id,
        round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE,
          6) AS jaccard
      FROM candi
      JOIN sh a ON a.doc_id = candi.new_id
      JOIN sh b ON b.doc_id = candi.seen_id
      WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE,
        6) >= $JaccardThreshold
      ORDER BY new_id, seen_id""",

    "text_fingerprint" -> s"""
      SELECT doc_id,
        list_reduce(list_prepend(0::BIGINT,
          list_transform(string_split(text, ''), c -> unicode(c)::BIGINT)),
          (acc, c) -> (acc*31 + c) % $P) AS fp
      FROM documents ORDER BY doc_id""",

    // NOTE (oracle parity contract): the Spark side operates on the UTF-8
    // BYTES of the payload (byte_len = octet count, features stride over
    // bytes), while this replay uses DuckDB CHARACTER positions
    // (length/unicode(text[j])). The two agree only because the synthetic
    // corpus is pure ASCII (verified: max codepoint 121 across all SFs).
    // A non-ASCII corpus would need this oracle rewritten byte-based
    // (encode/octet_length and blob indexing) — the Spark side is already
    // byte-correct.
    "multimodal_meta" -> """
      SELECT doc_id,
        length(text)::BIGINT AS byte_len,
        sha256(text) AS digest,
        (length(text) % 317 + 1)::BIGINT AS width,
        ((length(text)::BIGINT * 7919) % 211 + 1)::BIGINT AS height,
        (length(text) % 7 + 1)::BIGINT AS n_frames,
        (list_reduce(list_prepend(0::BIGINT, list_transform(
            generate_series(1, length(text), 8), j -> unicode(text[j])::BIGINT)),
          (a, b) -> a + b) % 1009)::DOUBLE AS f0,
        (list_reduce(list_prepend(0::BIGINT, list_transform(
            generate_series(8, length(text), 8), j -> unicode(text[j])::BIGINT)),
          (a, b) -> a + b) % 1009)::DOUBLE AS f7
      FROM documents ORDER BY doc_id""",

    "multimodal_frames" -> s"""
      WITH meta AS (
        SELECT doc_id, length(text)::BIGINT AS byte_len,
          length(text)::BIGINT % 7 + 1 AS n_frames,
          (length(text) % 317 + 1)::BIGINT AS width,
          ((length(text)::BIGINT * 7919) % 211 + 1)::BIGINT AS height
        FROM documents
      ), frames AS (
        SELECT doc_id, byte_len, width, height, f AS frame_idx
        FROM meta, unnest(generate_series(1, n_frames)) AS t(f)
        WHERE (f - 1) % 2 = 0)
      SELECT doc_id, frame_idx,
        (byte_len * 31 + frame_idx) % $P AS frame_hash,
        CASE WHEN greatest(width, height) > 128
          THEN (width * 128) // greatest(width, height) ELSE width END AS resized_w,
        CASE WHEN greatest(width, height) > 128
          THEN (height * 128) // greatest(width, height) ELSE height END AS resized_h
      FROM frames ORDER BY doc_id, frame_idx""",

    "events_hourly" -> """
      SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS hour_start,
        event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",

    // The streaming path's final sink state must equal the batch mirror —
    // same oracle as events_hourly.
    "streaming_foreachbatch" -> """
      SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS hour_start,
        event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",

    "events_sessionize" -> """
      WITH gaps AS (
        SELECT user_id, epoch_ms(ts) AS ms,
          lag(epoch_ms(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        FROM events)
      SELECT user_id,
        CAST(SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
          THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        COUNT(*) AS n_events
      FROM gaps GROUP BY user_id ORDER BY user_id""",

    "events_json" -> """
      SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY k_mod ORDER BY k_mod NULLS LAST""",

    // Replay of Joins.asof via DuckDB's native ASOF LEFT JOIN — the right
    // side is unique per (user_id, ts) on both engines, so the as-of
    // winner is well-defined and identical.
    "asof_join" -> """
      WITH clicks AS (
        SELECT event_id, ts, user_id, value FROM events
        WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts AS p_ts, max_by(value, event_id) AS p_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.event_id, c.ts, c.user_id, c.value, p.p_ts, p.p_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.p_ts
      ORDER BY c.event_id""",

    // Replay of Joins.asofNearest as a per-row LATERAL nearest pick:
    // min |Δt| within the 2 h tolerance, ties to the smaller p_ts (the
    // backward row — the Spark side's documented convention). purch is
    // unique per (user_id, p_ts), so no further tie-break is needed.
    "asof_join_nearest" -> """
      WITH clicks AS (
        SELECT event_id, ts, user_id, value FROM events
        WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts AS p_ts, max_by(value, event_id) AS p_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.event_id, c.ts, c.user_id, c.value, p.p_ts, p.p_value
      FROM clicks c LEFT JOIN LATERAL (
        SELECT p_ts, p_value FROM purch p
        WHERE p.user_id = c.user_id
          AND abs(epoch_us(c.ts) - epoch_us(p.p_ts)) <= 7200000000
        ORDER BY abs(epoch_us(c.ts) - epoch_us(p.p_ts)) ASC, p.p_ts ASC
        LIMIT 1) p ON true
      ORDER BY c.event_id""",

    // Replay of Joins.range as the plain inequality join DuckDB plans
    // natively (IEJoin); the Spark side must produce the identical pair
    // set through its bucketed equi-join formulation.
    "range_join" -> """
      WITH clicks AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
      w AS (
        SELECT user_id, ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end,
          event_id AS p_id
        FROM events WHERE event_type = 'purchase')
      SELECT c.event_id, c.ts, c.user_id, w.w_start, w.w_end, w.p_id
      FROM clicks c JOIN w ON c.user_id = w.user_id
        AND c.ts >= w.w_start AND c.ts <= w.w_end
      ORDER BY c.event_id, w.p_id""",

    // Replay of TextAnalysis.chunk: stride = size - overlap, chunk count
    // by integer ceil-div, word slices — all integer arithmetic, so the
    // boundaries agree exactly.
    "text_chunk" -> s"""
      WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          greatest(1, (len(string_split(text, ' ')) - $ChunkOverlap
            + ${ChunkSize - ChunkOverlap} - 1)
            // ${ChunkSize - ChunkOverlap}) AS nc
        FROM documents)
      SELECT doc_id, cid AS chunk_id,
        array_to_string(w[cid*${ChunkSize - ChunkOverlap}+1
          : cid*${ChunkSize - ChunkOverlap}+$ChunkSize], ' ') AS chunk_text,
        len(w[cid*${ChunkSize - ChunkOverlap}+1
          : cid*${ChunkSize - ChunkOverlap}+$ChunkSize])::BIGINT AS n_chunk_tokens
      FROM ws, unnest(generate_series(0, nc-1)) AS t(cid)
      ORDER BY doc_id, chunk_id""",

    // Replay of TextAnalysis.normalize: same regex chain (patterns simple
    // enough to agree between Java regex and RE2).
    "text_normalize" -> """
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(text),
          'https?://[^ ]+', '<url>', 'g'),
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
          '[0-9]+', '0', 'g'),
          ' +', ' ', 'g')) AS norm_text,
        length(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(text),
          'https?://[^ ]+', '<url>', 'g'),
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
          '[0-9]+', '0', 'g'),
          ' +', ' ', 'g')))::BIGINT AS norm_chars
      FROM documents ORDER BY doc_id""",

    // The salted join's contract IS the plain join — the oracle runs the
    // unsalted form and the hashes must agree exactly.
    "salted_join" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // Replay of Graph.triangleCounts over coOccurrenceEdges: same
    // maxGroup drop, degree-ordered orientation, wedge close.
    // Replay of Graph.labelPropagation, iters = 2 unrolled: same edge
    // derivation as triangle_count, then two rounds of
    // neighbor-label-count argmax (count desc, label asc).
    "graph_lpa" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
      c1 AS (SELECT s.a, l.label, count(*) AS c
             FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1, 2),
      l1 AS (SELECT a AS node, label FROM (
               SELECT a, label, row_number() OVER (
                 PARTITION BY a ORDER BY c DESC, label) AS rn
               FROM c1) WHERE rn = 1),
      c2 AS (SELECT s.a, l.label, count(*) AS c
             FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1, 2),
      l2 AS (SELECT a AS node, label FROM (
               SELECT a, label, row_number() OVER (
                 PARTITION BY a ORDER BY c DESC, label) AS rn
               FROM c2) WHERE rn = 1)
      SELECT node, label FROM l2 ORDER BY node""",

    // Replay of Graph.modularity over Graph.labelPropagation: the lpa
    // oracle's CTE chain verbatim, then exact integer modularity tallies —
    // numerator (4m·e_c − d_c²) in HUGEINT (Spark: DECIMAL(38,0)), ONE
    // double division, 6dp round with the −0.0 guard.
    "graph_modularity" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
      c1 AS (SELECT s.a, l.label, count(*) AS c
             FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1, 2),
      l1 AS (SELECT a AS node, label FROM (
               SELECT a, label, row_number() OVER (
                 PARTITION BY a ORDER BY c DESC, label) AS rn
               FROM c1) WHERE rn = 1),
      c2 AS (SELECT s.a, l.label, count(*) AS c
             FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1, 2),
      asg AS (SELECT a AS node, label AS community FROM (
               SELECT a, label, row_number() OVER (
                 PARTITION BY a ORDER BY c DESC, label) AS rn
               FROM c2) WHERE rn = 1),
      mm AS (SELECT count(*)::HUGEINT AS m FROM und),
      intra AS (SELECT x.community, count(*) AS intra_edges
                FROM und e JOIN asg x ON e.a = x.node
                JOIN asg y ON e.b = y.node
                WHERE x.community = y.community GROUP BY 1),
      deg AS (SELECT node, count(*) AS deg FROM
              (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
              GROUP BY 1),
      dc AS (SELECT a.community, count(*) AS n_nodes,
               coalesce(sum(d.deg), 0)::BIGINT AS degree_sum
             FROM asg a LEFT JOIN deg d ON a.node = d.node GROUP BY 1)
      SELECT dc.community, dc.n_nodes,
        coalesce(i.intra_edges, 0)::BIGINT AS intra_edges, dc.degree_sum,
        (round((4::HUGEINT * mm.m * coalesce(i.intra_edges, 0)
            - dc.degree_sum::HUGEINT * dc.degree_sum)::DOUBLE
          / (4 * mm.m * mm.m)::DOUBLE, 6) + 0) AS q_contrib
      FROM dc LEFT JOIN intra i ON dc.community = i.community, mm
      ORDER BY dc.community""",

    // Replay of Graph.kCore: the lpa/triangle edge CTE, then KcoreRounds
    // unrolled peel rounds (degree >= k semi-filter on both endpoints).
    "graph_kcore" -> {
      val peels = (1 to KcoreRounds).map(i => s"""
      keep$i AS (SELECT a FROM sym${i - 1} GROUP BY a
                 HAVING count(*) >= $KcoreK),
      sym$i AS (SELECT s.a, s.b FROM sym${i - 1} s
                JOIN keep$i x ON s.a = x.a
                JOIN keep$i y ON s.b = y.a)""").mkString(",")
      s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym0 AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      $peels
      SELECT a AS node, count(*) AS degree FROM sym$KcoreRounds
      GROUP BY a ORDER BY node"""
    },

    // Replay of Graph.kTruss: the triangle_count orientation + wedge
    // join per peel round (support = per-undirected-edge triangle
    // count over the three exploded edges), KtrussRounds unrolled
    // filters, then one final support pass over the survivors — the
    // Spark side's early-stop is an identity round, so a fixed unroll
    // produces the same table.
    "graph_ktruss" -> {
      // MATERIALIZED throughout: the peel references each generation
      // ~6 times, and DuckDB inlining would re-open the parquet per
      // reference (observed: "Too many open files" at 4 rounds).
      def triBlock(i: Int, src: String): String = s"""
      deg$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
            SELECT a AS node FROM $src UNION ALL SELECT b FROM $src)
          GROUP BY node),
      dir$i AS MATERIALIZED (SELECT
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
            THEN a ELSE b END AS u,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
            THEN b ELSE a END AS v
        FROM $src JOIN deg$i da ON da.node = a
        JOIN deg$i db ON db.node = b),
      tri$i AS MATERIALIZED (SELECT e1.u, e1.v, e2.v AS w
        FROM dir$i e1 JOIN dir$i e2 ON e2.u = e1.v
        JOIN dir$i e3 ON e3.u = e1.u AND e3.v = e2.v),
      sup$i AS MATERIALIZED (SELECT a, b, count(*) AS c FROM (
          SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri$i
          UNION ALL SELECT least(u, w), greatest(u, w) FROM tri$i
          UNION ALL SELECT least(v, w), greatest(v, w) FROM tri$i)
        GROUP BY 1, 2)"""
      val rounds = (0 until KtrussRounds).map { i =>
        triBlock(i, s"und$i") + s""",
      und${i + 1} AS MATERIALIZED (SELECT u.a, u.b FROM und$i u
        LEFT JOIN sup$i s ON s.a = u.a AND s.b = u.b
        WHERE coalesce(s.c, 0) >= $KtrussK - 2)"""
      }.mkString(",")
      s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS MATERIALIZED (SELECT g, n FROM sized
              WHERE gn <= $TriMaxGroup),
      und0 AS MATERIALIZED (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      $rounds,
      ${triBlock(KtrussRounds, s"und$KtrussRounds")}
      SELECT u.a, u.b, coalesce(s.c, 0)::BIGINT AS support
      FROM und$KtrussRounds u
      LEFT JOIN sup$KtrussRounds s ON s.a = u.a AND s.b = u.b
      ORDER BY u.a, u.b"""
    },

    "triangle_count" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      deg AS (SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und) GROUP BY node),
      dir AS (SELECT
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
            THEN a ELSE b END AS u,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
            THEN b ELSE a END AS v
        FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
      tri AS (SELECT e1.u, e1.v, e2.v AS w
        FROM dir e1 JOIN dir e2 ON e2.u = e1.v
        JOIN dir e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT node, count(*)::BIGINT AS n_tri FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
      GROUP BY node ORDER BY node""",

    // Replay of Graph.clusteringCoefficients: the triangle_count chain
    // plus the degree table, c = 2T/(d(d-1)), degree-1 nodes 0.
    "graph_clustering" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und) GROUP BY node),
      dir AS (SELECT
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
            THEN a ELSE b END AS u,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
            THEN b ELSE a END AS v
        FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
      tri AS (SELECT e1.u, e1.v, e2.v AS w
        FROM dir e1 JOIN dir e2 ON e2.u = e1.v
        JOIN dir e3 ON e3.u = e1.u AND e3.v = e2.v),
      nt AS (SELECT node, count(*)::BIGINT AS n_tri FROM (
          SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri) GROUP BY node)
      SELECT deg.node, deg.deg,
        coalesce(nt.n_tri, 0)::BIGINT AS n_tri,
        (round(CASE WHEN deg.deg >= 2
          THEN 2.0::DOUBLE * coalesce(nt.n_tri, 0)::DOUBLE
            / (deg.deg::DOUBLE * (deg.deg - 1)::DOUBLE)
          ELSE 0.0::DOUBLE END, 6) + 0.0) AS coeff
      FROM deg LEFT JOIN nt USING (node)
      ORDER BY node""",

    // Replay of Graph.reciprocity over the per-user transition graph:
    // lag window edges, loops dropped, reversed-key semi join.
    "graph_reciprocity" -> """
      WITH o AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev
        FROM events),
      e AS (SELECT DISTINCT prev AS src, event_type AS dst FROM o
            WHERE prev IS NOT NULL AND prev != event_type),
      m AS (SELECT count(*)::BIGINT AS n_rec FROM e
            WHERE EXISTS (SELECT 1 FROM e r
              WHERE r.src = e.dst AND r.dst = e.src)),
      t AS (SELECT count(*)::BIGINT AS n_edges FROM e)
      SELECT t.n_edges, m.n_rec AS n_reciprocated,
        (round(CASE WHEN t.n_edges > 0
          THEN m.n_rec::DOUBLE / t.n_edges::DOUBLE
          ELSE 0.0::DOUBLE END, 6) + 0.0) AS reciprocity
      FROM t, m""",

    // Replay of Graph.degreePowerLaw: CSN continuous-MLE alpha over the
    // degree tail, per-node ln snapped to ×2^20 longs.
    "graph_degree_alpha" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und) GROUP BY node),
      t AS (SELECT count(*)::BIGINT AS n_tail,
              sum(CAST(round(ln(deg::DOUBLE / 1.5::DOUBLE) * 1048576.0)
                AS BIGINT)) AS sfp
            FROM deg WHERE deg >= 2)
      SELECT 2::BIGINT AS d_min, n_tail,
        (round(CASE WHEN n_tail > 0 AND sfp > 0
          THEN 1.0::DOUBLE + n_tail::DOUBLE / (sfp::DOUBLE / 1048576.0)
          ELSE NULL END, 6) + 0.0) AS alpha
      FROM t""",

    // Oracle for Joins.bloomSemi: the plain exact semi join — the bloom
    // filter is a pure pre-filter, so any bitmap sizing must reproduce
    // this result bit-for-bit.
    "bloom_join" -> s"""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_totalprice > $BloomPriceMin)
      ORDER BY l_orderkey, l_linenumber""",

    // Replay of Sampling.perStratumHead: smallest-k h32(id) per stratum,
    // id tie-break — same md5-based hash as the sampling family.
    "sample_per_stratum" -> s"""
      SELECT doc_id, lang, source, n_chars FROM (
        SELECT doc_id, lang, source, n_chars,
          row_number() OVER (PARTITION BY lang
            ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P,
              doc_id) AS rn
        FROM documents)
      WHERE rn <= $PerStratumK ORDER BY doc_id""",

    // Replay of TextAnalysis.qualityFilter: thresholds over the same
    // 6dp-rounded metrics the text_quality oracle computes.
    "quality_filter" -> s"""
      SELECT doc_id, lang, source, n_chars FROM (
        SELECT doc_id, lang, source, n_chars,
          length(text)::BIGINT AS qf_chars,
          len(string_split(text, ' '))::BIGINT AS qf_words,
          round(len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' '))::DOUBLE, 6) AS qf_ttr,
          round(len(list_filter(string_split(text, ' '),
              w -> w IN ('the','a','of','and','to','in')))::DOUBLE
            / len(string_split(text, ' '))::DOUBLE, 6) AS qf_swr,
          round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
            / length(text)::DOUBLE, 6) AS qf_punct
        FROM documents)
      WHERE qf_chars BETWEEN $QfMinChars AND $QfMaxChars
        AND qf_words >= $QfMinWords AND qf_ttr >= $QfMinTtr
        AND qf_swr >= $QfMinStopword AND qf_punct <= $QfMaxPunct
      ORDER BY doc_id""",

    // Forward as-of replay: DuckDB's ASOF with `<=` picks the smallest
    // right time at or after each left row.
    "asof_join_forward" -> """
      WITH clicks AS (
        SELECT event_id, ts, user_id, value FROM events
        WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts AS p_ts, max_by(value, event_id) AS p_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.event_id, c.ts, c.user_id, c.value, p.p_ts, p.p_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts <= p.p_ts
      ORDER BY c.event_id""",

    // Replay of Contamination.check: same shingle hashing as the minhash
    // family, overlap counted on distinct (eval_id, shingle) matches
    // against any OTHER document.
    "contamination_check" -> s"""$shingleCtes,
      ev AS (SELECT doc_id AS eval_id, shingles FROM sh WHERE doc_id % 50 = 0),
      evx AS (SELECT eval_id, unnest(shingles) AS h FROM ev),
      cx AS (SELECT doc_id AS c_id, unnest(shingles) AS h FROM sh),
      matched AS (
        SELECT DISTINCT eval_id, h FROM cx JOIN evx USING (h)
        WHERE c_id != eval_id),
      mc AS (SELECT eval_id, COUNT(*) AS nc FROM matched GROUP BY eval_id)
      SELECT eval_id, len(shingles)::BIGINT AS n_shingles,
        COALESCE(nc, 0)::BIGINT AS n_contaminated,
        round(COALESCE(nc, 0)::DOUBLE / len(shingles), 6) AS contamination
      FROM ev LEFT JOIN mc USING (eval_id) ORDER BY eval_id""",

    // Replay of Contamination.novelty: distinct doc grams anti-joined
    // against the reference slice's distinct gram set.
    "text_novelty" -> noveltyOracle,

    // text_novelty_bloom is EXACT BY CONSTRUCTION (the bloom prunes join
    // input, never the answer — Contamination.noveltyBloom), so its
    // oracle IS the plain anti-join replay, shared verbatim.
    "text_novelty_bloom" -> noveltyOracle,

    // Same contract for the DISTRIBUTED word-partitioned bloom: routing
    // through (w, bits) join verdicts never changes the answer.
    "text_novelty_bloom_big" -> noveltyOracle,

    // Replay of TextAnalysis.repetition (word bigrams): same space-split
    // words, same keyed (doc, gram) counts; a doc shorter than one bigram
    // yields no row in either engine (generate_series(1, 0) is empty).
    "text_repetition" -> """
      WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
            FROM ws, unnest(generate_series(1, len(w)-1)) AS t(i)),
      gc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
      SELECT doc_id, SUM(cnt)::BIGINT AS n_ngrams,
        COUNT(*)::BIGINT AS n_distinct_ngrams,
        round((SUM(cnt) - COUNT(*))::DOUBLE / SUM(cnt), 6) AS dup_ngram_frac,
        round(MAX(cnt)::DOUBLE / SUM(cnt), 6) AS top_ngram_frac
      FROM gc GROUP BY doc_id ORDER BY doc_id""",

    // Replay of TextAnalysis.tfidfTopK: smoothed idf, 6dp-rounded score,
    // rank ties broken by term — the window orders by the ROUNDED score so
    // both engines rank identical values.
    "tfidf_topk" -> """
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      s AS (SELECT doc_id, term, tf, df,
              round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1), 6) AS score
            FROM tf JOIN dfq USING (term) CROSS JOIN n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rnk FROM s)
      SELECT doc_id, rnk::BIGINT AS rnk, term, tf::BIGINT AS tf,
        df::BIGINT AS df, score
      FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk""",

    // Replay of Assemble.threads: same (ts, event_id) order, same
    // 16-turn cap applied before aggregation.
    "events_assemble" -> """
      WITH r AS (
        SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          count(*) OVER (PARTITION BY user_id) AS tot
        FROM events)
      SELECT user_id, MAX(tot)::BIGINT AS total_events,
        COUNT(*)::BIGINT AS n_turns,
        string_agg(event_type, ' ' ORDER BY rn) AS convo
      FROM r WHERE rn <= 16 GROUP BY user_id ORDER BY user_id""",

    // Replay of Encoding.encode: ids are 1-based ranks over the sorted
    // distinct non-null values, joined back, nulls stay null.
    "encode_categorical" -> """
      WITH sv AS (SELECT value, row_number() OVER (ORDER BY value) AS id
        FROM (SELECT DISTINCT source AS value FROM documents
              WHERE source IS NOT NULL)),
      lv AS (SELECT value, row_number() OVER (ORDER BY value) AS id
        FROM (SELECT DISTINCT lang AS value FROM documents
              WHERE lang IS NOT NULL))
      SELECT d.doc_id, d.source, sv.id::BIGINT AS source_id,
        d.lang, lv.id::BIGINT AS lang_id
      FROM documents d LEFT JOIN sv ON d.source = sv.value
        LEFT JOIN lv ON d.lang = lv.value
      ORDER BY d.doc_id""",

    // Replay of Sampling.upsample: copies = floor(weight) + 1 more iff
    // the row's h32 draw is under the fractional threshold (thresholds
    // computed by the SAME Scala double arithmetic both sides).
    "sample_upsample" -> s"""
      WITH c AS (
        SELECT doc_id, lang,
          CASE lang ${UpWeights.toSeq.sorted.map { case (v, w) =>
            s"WHEN '$v' THEN ${math.floor(w).toLong}"
          }.mkString(" ")} ELSE ${math.floor(UpDefault).toLong} END
          + CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P
              < CASE lang ${UpWeights.toSeq.sorted.map { case (v, w) =>
                  s"WHEN '$v' THEN ${sampleThreshold(w - math.floor(w))}"
                }.mkString(" ")}
                ELSE ${sampleThreshold(UpDefault - math.floor(UpDefault))} END
            THEN 1 ELSE 0 END AS n
        FROM documents)
      SELECT doc_id, lang, copy
      FROM c, unnest(generate_series(0, n - 1)) AS t(copy)
      ORDER BY doc_id, copy""",

    // Replay of Sampling.weightedTopK (Efraimidis-Spirakis): priority =
    // round(ln((h+1)/(P+1)) / weight, 6), top-k by (priority DESC, id).
    "sample_weighted" -> s"""
      SELECT doc_id, n_chars, priority FROM (
        SELECT doc_id, n_chars,
          (round(ln((('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P
            + 1)::DOUBLE / ($P + 1)) / n_chars::DOUBLE, 6) + 0) AS priority
        FROM documents WHERE n_chars::DOUBLE > 0
        ORDER BY priority DESC, doc_id LIMIT $WtopK)
      ORDER BY doc_id""",

    // Replay of Sampling.importanceWeights (DSIR): hashed-unigram buckets,
    // Laplace-smoothed target (lang='en') vs source (all docs) bucket
    // probabilities, per-bucket log-ratio quantized once to fixed-point
    // micro-units, per-doc exact BIGINT sum. Tokens are single-space
    // splits with empties dropped, exactly like the Spark side.
    "sample_importance" -> s"""
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
          ('0x'||substr(md5(w),1,8))::BIGINT % $P % $DsirBuckets AS b
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != ''
      ), cnt AS (
        SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc,
          count(*) AS sc
        FROM toks GROUP BY b
      ), tot AS (SELECT sum(tc) AS tt, sum(sc) AS st FROM cnt
      ), lr AS (
        SELECT b, CAST(round((ln((tc + 1)::DOUBLE / (tt + $DsirBuckets))
          - ln((sc + 1)::DOUBLE / (st + $DsirBuckets))) * 1000000) AS BIGINT) AS lrf
        FROM cnt, tot
      ), scored AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          (round(sum(lrf) / 1000000.0, 6) + 0) AS score
        FROM toks JOIN lr USING (b) GROUP BY doc_id)
      SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        coalesce(s.score, 0.0) AS score
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id""",

    // Replay of Sampling.paretoFront over per-user (n_events, max value):
    // per-x-level max y, exclusive descending-x prefix max, keep rows at
    // their level max and strictly above everything upper-right.
    "select_pareto" -> """
      WITH u AS (
        SELECT user_id, count(*)::BIGINT AS n_events, max(value) AS max_value
        FROM events GROUP BY user_id
      ), lv AS (
        SELECT n_events, max(max_value) AS my FROM u GROUP BY n_events
      ), s AS (
        SELECT n_events, my,
          max(my) OVER (ORDER BY n_events DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict
        FROM lv)
      SELECT u.user_id, u.n_events, u.max_value
      FROM u JOIN s USING (n_events)
      WHERE u.max_value = s.my
        AND (s.strict IS NULL OR u.max_value > s.strict)
      ORDER BY user_id""",

    // Replay of TextAnalysis.lexicalDiversity: (doc, word) counts, then
    // per-doc type/token/hapax tallies; ratios at 6dp, zeros for
    // token-less docs.
    "text_ttr" -> """
      WITH wc AS (
        SELECT doc_id, w, count(*) AS c
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != ''
        GROUP BY doc_id, w
      ), agg AS (
        SELECT doc_id, sum(c)::BIGINT AS n_tokens,
          count(*)::BIGINT AS n_types,
          sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax
        FROM wc GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        coalesce(a.n_types, 0) AS n_types,
        coalesce(round(a.n_types::DOUBLE / a.n_tokens, 6), 0.0) AS ttr,
        coalesce(round(a.hapax::DOUBLE / a.n_tokens, 6), 0.0) AS hapax_ratio
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id""",

    // Replay of TextAnalysis.chao1: corpus word counts, singleton /
    // doubleton type tallies, bias-corrected richness estimate.
    "text_chao1" -> """
      WITH wc AS (
        SELECT w, count(*) AS c
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != '' GROUP BY w
      ), agg AS (
        SELECT coalesce(sum(c), 0)::BIGINT AS n_tokens,
          count(*)::BIGINT AS n_types,
          coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS f1,
          coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0)::BIGINT AS f2
        FROM wc)
      SELECT n_tokens, n_types, f1, f2,
        round(n_types::DOUBLE
          + (f1 * (f1 - 1))::DOUBLE / ((f2 + 1) * 2)::DOUBLE, 6) AS chao1
      FROM agg""",

    // Replay of Classify.naiveBayes: the DSIR hashing verbatim, but
    // class-conditional bucket counts + add-one smoothing + a doc-count
    // prior, all quantized to micro-nats before the order-free long sum.
    "quality_classifier" -> s"""$NbCtes
      SELECT doc_id, n_tokens, log_odds, log_odds > 0 AS pred
      FROM nb ORDER BY doc_id""",

    // Exact Mann-Whitney AUC over the classifier replay: per-level
    // counts, exclusive cumulative negatives, integer x2 numerator.
    "classifier_auc" -> s"""$NbCtes,
      lv AS (
        SELECT log_odds AS v,
          sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
          sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
        FROM nb GROUP BY log_odds
      ), c AS (
        SELECT np, nn,
          coalesce(sum(nn) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM lv
      ), t AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM lv)
      SELECT t.tp::BIGINT AS n_pos, t.tn::BIGINT AS n_neg,
        round(sum(np * (2 * cb + nn))::DOUBLE
          / (2.0 * t.tp * t.tn), 6) AS auc
      FROM c, t GROUP BY t.tp, t.tn""",

    // Confusion metrics at the log-odds-0 cut over the same replay.
    "classifier_eval" -> s"""$NbCtes,
      cm AS (
        SELECT
          sum(CASE WHEN pos AND log_odds > 0 THEN 1 ELSE 0 END)::BIGINT AS tp,
          sum(CASE WHEN NOT pos AND log_odds > 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
          sum(CASE WHEN pos AND NOT log_odds > 0 THEN 1 ELSE 0 END)::BIGINT AS fn,
          sum(CASE WHEN NOT pos AND NOT log_odds > 0 THEN 1 ELSE 0 END)::BIGINT AS tn
        FROM nb)
      SELECT tp, fp, fn, tn,
        CASE WHEN tp + fp + fn + tn > 0 THEN
          round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 6) END AS accuracy,
        CASE WHEN tp + fp > 0 THEN
          round(tp::DOUBLE / (tp + fp), 6) END AS precision,
        CASE WHEN tp + fn > 0 THEN
          round(tp::DOUBLE / (tp + fn), 6) END AS recall,
        CASE WHEN 2 * tp + fp + fn > 0 THEN
          round((2 * tp)::DOUBLE / (2 * tp + fp + fn), 6) END AS f1
      FROM cm""",

    // Reliability bins over 2-nat log-odds buckets: exact fixed-point
    // mean score, per-bin positive rate.
    "classify_calibration" -> s"""$NbCtes
      SELECT CAST(floor(log_odds / 2.0) AS BIGINT) AS bin,
        count(*)::BIGINT AS n,
        sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        round(sum(CASE WHEN pos THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
          AS pos_rate,
        (round(sum(CAST(round(log_odds * 1000000) AS DECIMAL(38,0)))::DOUBLE
          / count(*) / 1000000.0, 6) + 0) AS mean_score
      FROM nb GROUP BY 1 ORDER BY 1""",

    // Cohen's kappa between the declared lang and the langId heuristic:
    // exact DECIMAL marginal cross products, single double divisions.
    "label_agreement" -> s"""$LangIdPredSql,
      cells AS (
        SELECT lang AS a, predicted AS b, count(*) AS c
        FROM pred GROUP BY 1, 2
      ), rt AS (SELECT a AS k, sum(c) AS ra FROM cells GROUP BY a
      ), ct AS (SELECT b AS k, sum(c) AS rb FROM cells GROUP BY b
      ), penum AS (
        SELECT coalesce(sum(ra::DECIMAL(38,0) * rb::DECIMAL(38,0)),
          0::DECIMAL(38,0)) AS pn
        FROM rt JOIN ct ON rt.k IS NOT DISTINCT FROM ct.k
      ), base AS (
        SELECT coalesce(sum(c), 0)::BIGINT AS n,
          coalesce(sum(CASE WHEN a IS NOT DISTINCT FROM b THEN c
            ELSE 0 END), 0)::BIGINT AS d
        FROM cells)
      SELECT n, d AS n_agree,
        CASE WHEN n > 0 THEN round(d::DOUBLE / n, 6) END AS po,
        CASE WHEN n > 0 THEN
          round(pn::DOUBLE / (n::DOUBLE * n::DOUBLE), 6) END AS pe,
        CASE WHEN n > 0 AND n::DECIMAL(38,0) * n != pn THEN
          round((n::DECIMAL(38,0) * d - pn)::DOUBLE
            / (n::DECIMAL(38,0) * n - pn)::DOUBLE, 6) + 0 END AS kappa
      FROM base, penum""",

    // Replay of Classify.krippendorffAlpha over the 3-rater fixture:
    // melt (declared, predicted, predicted-if-long) to pairable values,
    // per-unit disagreement scaled by L = lcm(1..R−1) = 2 so every
    // division is exact integer math, one final double division 6dp.
    "label_krippendorff" -> s"""$LangIdPredSql,
      vals AS (
        SELECT u, v FROM (
          SELECT p.doc_id AS u, p.lang AS v FROM pred p
          UNION ALL SELECT p.doc_id, p.predicted FROM pred p
          UNION ALL SELECT p.doc_id,
            CASE WHEN d.n_chars >= $KrippMinChars THEN p.predicted END
          FROM pred p JOIN documents d ON d.doc_id = p.doc_id)
        WHERE v IS NOT NULL),
      uc AS (SELECT u, v, count(*)::BIGINT AS c FROM vals GROUP BY 1, 2),
      us AS (SELECT u, sum(c)::BIGINT AS m, sum(c*c)::BIGINT AS s
             FROM uc GROUP BY 1),
      pairable AS (SELECT u, m, s FROM us WHERE m >= 2),
      terms AS (
        SELECT count(*)::BIGINT AS n_units,
          coalesce(sum((2 // (m - 1))::HUGEINT * (m*m - s)::HUGEINT),
            0::HUGEINT) AS al
        FROM pairable),
      vc AS (SELECT v, sum(c)::BIGINT AS nc
             FROM uc JOIN pairable USING (u) GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT AS nv,
          coalesce(sum(nc), 0)::BIGINT AS n,
          coalesce(sum(nc::HUGEINT * nc::HUGEINT), 0::HUGEINT) AS q
        FROM vc)
      SELECT terms.n_units, tot.nv AS n_values, tot.n AS n_pairable,
        CASE WHEN (n::HUGEINT * n::HUGEINT - q) > 0 THEN
          round(1 - ((n - 1)::HUGEINT * al)::DOUBLE
            / (2::HUGEINT * (n::HUGEINT * n::HUGEINT - q))::DOUBLE, 6)
            + 0
        ELSE NULL END AS alpha
      FROM tot, terms""",

    // Replay of Sampling.rendezvousShard: argmax_s h32(id ':' s), ties
    // to the smallest s — (h DESC, s ASC) row_number here, max over
    // struct(h, -s) on the Spark side; identical total order.
    "shard_rendezvous" -> s"""
      WITH a AS (
        SELECT doc_id, s,
          ('0x'||substr(md5(doc_id::VARCHAR || ':' || s::VARCHAR),1,8))::BIGINT
            % $P AS h
        FROM documents, unnest(generate_series(0, ${RendezvousK - 1})) AS t(s)
      ), r AS (
        SELECT doc_id, s,
          row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
        FROM a)
      SELECT doc_id, s::BIGINT AS shard FROM r WHERE rn = 1
      ORDER BY doc_id""",

    // Replay of Similarity.standardize: per-dim fixed-point (x2^20)
    // DECIMAL(38,0) sums -> exact means/variances under any order and no
    // overflow in the wide-value regime; z rounded 6dp, constant dims -> 0.
    // Long format (vec_id, d, z): the gate comparator can't hash arrays.
    "embed_standardize" -> """
      WITH x AS (
        SELECT vec_id, d, embedding[d]::DOUBLE AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d)),
      st AS (
        SELECT d,
          SUM(CAST(round(v * 1048576.0) AS DECIMAL(38,0))) AS s,
          SUM(CAST(round(v * v * 1048576.0) AS DECIMAL(38,0))) AS ss,
          COUNT(*) AS n
        FROM x GROUP BY d),
      ms AS (
        SELECT d, s::DOUBLE / n / 1048576.0 AS m,
          sqrt(greatest(ss::DOUBLE / n / 1048576.0
            - (s::DOUBLE / n / 1048576.0) * (s::DOUBLE / n / 1048576.0),
            0)) AS sd
        FROM st)
      SELECT vec_id, d - 1 AS d,
        (round(CASE WHEN sd > 0 THEN (v - m) / sd ELSE 0 END, 6) + 0) AS z
      FROM x JOIN ms USING (d)
      ORDER BY vec_id, d""",

    // Replay of Similarity.centroids: the same ×2^20 DECIMAL(38,0)
    // fixed-point sums as embed_standardize, keyed (label, dim).
    "embed_centroids" -> """
      WITH x AS (
        SELECT label::BIGINT AS label, d, embedding[d]::DOUBLE AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d))
      SELECT label, d - 1 AS d,
        (round(SUM(CAST(round(v * 1048576.0) AS DECIMAL(38,0)))::DOUBLE
          / COUNT(*) / 1048576.0, 6) + 0) AS centroid
      FROM x GROUP BY label, d ORDER BY label, d""",

    // Replay of Similarity.quantize: per-dim min/max bounds, half-up
    // snap via floor(x + 0.5) (identical on both engines; DuckDB's
    // double->BIGINT cast rounds but the operand is already integral).
    "embed_quantize" -> """
      WITH x AS (
        SELECT vec_id, d, embedding[d]::DOUBLE AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d)),
      b AS (SELECT d, min(v) AS lo, max(v) AS hi FROM x GROUP BY d)
      SELECT vec_id, d - 1 AS d,
        CAST(least(255.0, greatest(0.0,
          CASE WHEN hi > lo
            THEN floor((v - lo) / (hi - lo) * 255.0 + 0.5)
            ELSE 0 END)) AS BIGINT) AS q
      FROM x JOIN b USING (d)
      ORDER BY vec_id, d""",

    // Replay of Sampling.splitAssign: cumulative thresholds computed by
    // the SAME Scala double arithmetic (0.8 + 0.1 is not 0.9 in IEEE;
    // interpolating the longs keeps both engines on identical cuts).
    "split_assign" -> s"""
      SELECT doc_id, lang,
        CASE WHEN h < ${sampleThreshold(0.8)} THEN 'train'
             WHEN h < ${sampleThreshold(0.8 + 0.1)} THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id, lang,
              ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % $P AS h
            FROM documents)
      ORDER BY doc_id""",

    // CC replay (as dedup_cc_apply) + split thresholds keyed on the
    // CLUSTER label (own id for singletons) with the 'ls9' salt.
    "split_leakage_safe" -> s"""${minhashCtes.replaceFirst("WITH", "WITH RECURSIVE")}
      , ok AS (
        SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $JaccardThreshold
      ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM ok
        UNION SELECT doc_b, doc_a FROM ok
      ), reach AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
      ), comps AS (
        SELECT src AS doc_id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
      ), labeled AS (
        SELECT d.doc_id, d.lang,
          COALESCE(c.component, d.doc_id) AS grp
        FROM documents d LEFT JOIN comps c USING (doc_id))
      SELECT doc_id, lang,
        CASE WHEN h < ${sampleThreshold(0.8)} THEN 'train'
             WHEN h < ${sampleThreshold(0.8 + 0.1)} THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id, lang,
              ('0x'||substr(md5(grp::VARCHAR || 'ls9'),1,8))::BIGINT % $P
                AS h
            FROM labeled)
      ORDER BY doc_id""",

    // Replay of TextAnalysis.heavyHitters: global word counts, top-k by
    // (count DESC, term).
    "heavy_hitters" -> """
      SELECT term, n FROM (
        SELECT term, COUNT(*)::BIGINT AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term ORDER BY n DESC, term LIMIT 20)
      ORDER BY term""",

    // Replay of Dedup.passages: the text_chunk slicing with overlap 0 and
    // window 8, first corpus-wide occurrence by (doc, position) survives,
    // documents reassemble in chunk order.
    "dedup_passages" -> """
      WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          greatest(1, (len(string_split(text, ' ')) + 7) // 8) AS nc
        FROM documents),
      ch AS (
        SELECT doc_id, cid,
          array_to_string(w[cid*8+1 : cid*8+8], ' ') AS ct
        FROM ws, unnest(generate_series(0, nc-1)) AS t(cid)),
      k AS (
        SELECT doc_id, cid, ct,
          row_number() OVER (PARTITION BY ct ORDER BY doc_id, cid) AS rn,
          count(*) OVER (PARTITION BY doc_id) AS nch
        FROM ch)
      SELECT doc_id, MAX(nch)::BIGINT AS n_chunks, COUNT(*)::BIGINT AS n_kept,
        string_agg(ct, ' ' ORDER BY cid) AS clean_text
      FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    // Replay of TextAnalysis.boilerplateChunks: chunks repeated in >=
    // minDocs DISTINCT docs are removed EVERYWHERE (vs passages'
    // keep-first); fully-boilerplate docs survive with empty text.
    "text_boilerplate" -> s"""
      WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          greatest(1, (len(string_split(text, ' ')) + 7) // 8) AS nc
        FROM documents),
      ch AS (
        SELECT doc_id, cid,
          array_to_string(w[cid*8+1 : cid*8+8], ' ') AS ct
        FROM ws, unnest(generate_series(0, nc-1)) AS t(cid)),
      bo AS (SELECT ct FROM (
               SELECT ct, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
             WHERE nd >= $BoilerMinDocs),
      k AS (SELECT * FROM ch WHERE ct NOT IN (SELECT ct FROM bo)),
      tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
              FROM ch GROUP BY 1),
      re AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
               string_agg(ct, ' ' ORDER BY cid) AS clean_text
             FROM k GROUP BY 1)
      SELECT tot.doc_id, n_chunks,
        coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
        coalesce(clean_text, '') AS clean_text
      FROM tot LEFT JOIN re USING (doc_id) ORDER BY tot.doc_id""",

    // Replay of the curation chain: the text_boilerplate CTEs feed an
    // exact dedup on the CLEANED text (first doc id wins) and per-doc
    // token accounting.
    "curate_pipeline" -> s"""
      WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w,
          greatest(1, (len(string_split(text, ' ')) + 7) // 8) AS nc
        FROM documents),
      ch AS (
        SELECT doc_id, cid,
          array_to_string(w[cid*8+1 : cid*8+8], ' ') AS ct
        FROM ws, unnest(generate_series(0, nc-1)) AS t(cid)),
      bo AS (SELECT ct FROM (
               SELECT ct, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
             WHERE nd >= $BoilerMinDocs),
      k AS (SELECT * FROM ch WHERE ct NOT IN (SELECT ct FROM bo)),
      re AS (SELECT doc_id,
               string_agg(ct, ' ' ORDER BY cid) AS clean_text
             FROM k GROUP BY 1),
      cl AS (SELECT re.doc_id, d.lang, re.clean_text
             FROM re JOIN documents d ON re.doc_id = d.doc_id),
      dd AS (SELECT *, row_number() OVER (
               PARTITION BY clean_text ORDER BY doc_id) AS rn FROM cl)
      SELECT doc_id, lang,
        len(string_split(clean_text, ' '))::BIGINT AS n_tokens
      FROM dd WHERE rn = 1 ORDER BY doc_id""",

    // Replay of the five-operator curation chain: the quality_filter
    // predicate, exact-dedup row_number, the minhash CTEs re-rooted on
    // the dedup survivors (minhashCtesOver), the DSIR fixed-point score,
    // and the per-language top-fraction window — each fragment identical
    // to its standalone gate's oracle.
    "curate_pretrain" -> s"""
      WITH qf AS (
        SELECT doc_id, lang, text FROM (
          SELECT doc_id, lang, text,
            length(text)::BIGINT AS qc,
            len(string_split(text, ' '))::BIGINT AS qw,
            round(len(list_distinct(string_split(text, ' ')))::DOUBLE
              / len(string_split(text, ' '))::DOUBLE, 6) AS qt,
            round(len(list_filter(string_split(text, ' '),
                w -> w IN ('the','a','of','and','to','in')))::DOUBLE
              / len(string_split(text, ' '))::DOUBLE, 6) AS qs,
            round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
              / length(text)::DOUBLE, 6) AS qp
          FROM documents)
        WHERE qc BETWEEN $QfMinChars AND $QfMaxChars
          AND qw >= $QfMinWords AND qt >= $QfMinTtr
          AND qs >= $QfMinStopword AND qp <= $QfMaxPunct
      ), uniq AS (
        SELECT doc_id, lang, text FROM (
          SELECT *, row_number() OVER (
            PARTITION BY text ORDER BY doc_id) AS rn FROM qf)
        WHERE rn = 1
      )${minhashCtesOver("SELECT doc_id, text FROM uniq")
          .replaceFirst("\\s*WITH", ", ")}
      , near AS (
        SELECT u.doc_id, u.lang, u.text FROM uniq u
        WHERE u.doc_id NOT IN (
          SELECT doc_b FROM pairs WHERE jaccard >= $JaccardThreshold)
      ), dtoks AS (
        SELECT doc_id, lang = 'en' AS tgt,
          ('0x'||substr(md5(w),1,8))::BIGINT % $P % $DsirBuckets AS b
        FROM near, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != ''
      ), dcnt AS (
        SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc,
          count(*) AS sc
        FROM dtoks GROUP BY b
      ), dtot AS (SELECT sum(tc) AS tt, sum(sc) AS st FROM dcnt
      ), dlr AS (
        SELECT b, CAST(round((ln((tc + 1)::DOUBLE / (tt + $DsirBuckets))
          - ln((sc + 1)::DOUBLE / (st + $DsirBuckets))) * 1000000) AS BIGINT)
          AS lrf
        FROM dcnt, dtot
      ), dscored AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          (round(sum(lrf) / 1000000.0, 6) + 0) AS score
        FROM dtoks JOIN dlr USING (b) GROUP BY doc_id
      ), scored AS (
        SELECT n.doc_id, n.lang, coalesce(s.n_tokens, 0) AS n_tokens,
          coalesce(s.score, 0.0) AS score
        FROM near n LEFT JOIN dscored s ON n.doc_id = s.doc_id
      ), ranked AS (
        SELECT *,
          CAST(row_number() OVER (
            PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT)
            AS rank,
          count(*) OVER (PARTITION BY lang) AS nl
        FROM scored)
      SELECT doc_id, lang, n_tokens, score, rank
      FROM ranked
      WHERE rank <= CAST(ceil($CurateKeepFrac * nl) AS BIGINT)
      ORDER BY doc_id""",

    // Replay of Profile.outliers: per-type fixed-point (x2^20) moments,
    // |value - mean| > 3 sigma, z rounded 6dp.
    "events_outliers" -> """
      WITH st AS (
        SELECT event_type,
          SUM(CAST(round(value * 1048576.0) AS DECIMAL(38,0))) AS s,
          SUM(CAST(round(value * value * 1048576.0) AS DECIMAL(38,0))) AS ss,
          COUNT(value) AS n
        FROM events GROUP BY event_type),
      ms AS (
        SELECT event_type, s::DOUBLE / n / 1048576.0 AS m,
          sqrt(greatest(ss::DOUBLE / n / 1048576.0
            - (s::DOUBLE / n / 1048576.0) * (s::DOUBLE / n / 1048576.0),
            0)) AS sd
        FROM st)
      SELECT event_id, e.event_type, value,
        (round((value - m) / sd, 6) + 0) AS z
      FROM events e JOIN ms USING (event_type)
      WHERE sd > 0 AND abs(value - m) > 3.0 * sd
      ORDER BY event_id""",

    // Replay of TextAnalysis.qualityScore: logistic over the same
    // 6dp-rounded metrics, linear terms accumulated in the same order.
    "quality_score" -> """
      WITH m AS (
        SELECT doc_id,
          round(len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' '))::DOUBLE, 6) AS ttr,
          round(len(list_filter(string_split(text, ' '),
              w -> w IN ('the','a','of','and','to','in')))::DOUBLE
            / len(string_split(text, ' '))::DOUBLE, 6) AS stopword_ratio,
          round((length(text)
              - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
            / length(text)::DOUBLE, 6) AS punct_ratio
        FROM documents),
      s AS (
        SELECT doc_id,
          round(1.0 / (1.0 + exp(-((((-1.5) + 2.0 * ttr)
            + 5.0 * stopword_ratio) + (-10.0) * punct_ratio))), 6) AS score
        FROM m)
      SELECT doc_id, score, score >= 0.5 AS keep
      FROM s ORDER BY doc_id""",

    // Replay of LanguageModel.bigramCrossEntropy: per-lang bigram counts,
    // head counts, vocab size; smoothed p in IEEE double; per-bigram log
    // fixed to integer micro-nats (round half away from zero in both
    // engines), summed as LONGs per doc, then one 6dp division.
    "quality_lm_score" -> s"""
      WITH ws AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      bg AS (
        SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2, count(*) AS cnt
        FROM (
          SELECT doc_id, lang,
            unnest(list_transform(generate_series(1, len(w) - 1),
              g -> struct_pack(w1 := w[g], w2 := w[g+1]))) AS p
          FROM ws)
        GROUP BY 1, 2, 3, 4),
      c12 AS (SELECT lang, w1, w2, sum(cnt)::BIGINT AS c12
              FROM bg GROUP BY 1, 2, 3),
      c1 AS (SELECT lang, w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1, 2),
      v AS (SELECT lang, count(DISTINCT w)::BIGINT AS v FROM
              (SELECT lang, w1 AS w FROM bg
               UNION SELECT lang, w2 FROM bg) GROUP BY 1),
      lp AS (
        SELECT lang, w1, w2,
          round(ln((c12::DOUBLE + $LmAlpha)
            / (c1::DOUBLE + $LmAlpha * v::DOUBLE)) * 1000000.0)::BIGINT
            AS lp6
        FROM c12 JOIN c1 USING (lang, w1) JOIN v USING (lang)),
      s AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
          sum(cnt * lp6)::BIGINT AS s6
        FROM bg JOIN lp USING (lang, w1, w2) GROUP BY 1)
      SELECT doc_id, n_bigrams,
        round(-(s6::DOUBLE) / 1000000.0 / n_bigrams, 6) + 0.0 AS xent
      FROM s ORDER BY doc_id""",


    // Replay of LanguageModel.knTrigramCrossEntropy: trigram type table,
    // continuation-count reductions, the PINNED interpolated-KN
    // expression, micro-nat snap, per-doc long reduce.
    "quality_kn_score" -> s"""
      WITH ws AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      tg AS (
        SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3,
          count(*) AS cnt
        FROM (
          SELECT doc_id, lang,
            unnest(list_transform(generate_series(1, len(w) - 2),
              g -> struct_pack(w1 := w[g], w2 := w[g+1], w3 := w[g+2])))
              AS p
          FROM ws)
        GROUP BY 1, 2, 3, 4, 5),
      t3 AS (SELECT lang, w1, w2, w3, sum(cnt)::BIGINT AS c123
             FROM tg GROUP BY 1, 2, 3, 4),
      ctx12 AS (SELECT lang, w1, w2, sum(c123)::BIGINT AS c12,
                  count(*)::BIGINT AS n12
                FROM t3 GROUP BY 1, 2, 3),
      t23 AS (SELECT lang, w2, w3, count(*)::BIGINT AS n_dot23
              FROM t3 GROUP BY 1, 2, 3),
      ctx2 AS (SELECT lang, w2, sum(n_dot23)::BIGINT AS nmid2,
                 count(*)::BIGINT AS n2dot
               FROM t23 GROUP BY 1, 2),
      cont3 AS (SELECT lang, w3, count(*)::BIGINT AS n_dot3
                FROM t23 GROUP BY 1, 2),
      tot AS (SELECT lang, count(*)::BIGINT AS ntot FROM t23 GROUP BY 1),
      lp AS (
        SELECT lang, w1, w2, w3,
          round(ln(
            greatest(c123::DOUBLE - $KnDiscount::DOUBLE, 0.0::DOUBLE)
              / c12::DOUBLE
            + ($KnDiscount::DOUBLE * n12::DOUBLE) / c12::DOUBLE
              * (greatest(n_dot23::DOUBLE - $KnDiscount::DOUBLE,
                    0.0::DOUBLE) / nmid2::DOUBLE
                 + ($KnDiscount::DOUBLE * n2dot::DOUBLE) / nmid2::DOUBLE
                   * (n_dot3::DOUBLE / ntot::DOUBLE))
          ) * 1000000.0)::BIGINT AS lp6
        FROM t3 JOIN ctx12 USING (lang, w1, w2)
          JOIN t23 USING (lang, w2, w3)
          JOIN ctx2 USING (lang, w2)
          JOIN cont3 USING (lang, w3)
          JOIN tot USING (lang)),
      s AS (
        SELECT doc_id, sum(cnt)::BIGINT AS n_trigrams,
          sum(cnt * lp6)::BIGINT AS s6
        FROM tg JOIN lp USING (lang, w1, w2, w3) GROUP BY 1)
      SELECT doc_id, n_trigrams,
        round(-(s6::DOUBLE) / 1000000.0 / n_trigrams, 6) + 0.0 AS xent
      FROM s ORDER BY doc_id""",


    // Replay of Unigram.encode: the literal vocab VALUES table, the
    // chained forward-DP CTEs (state = cost6*1024 + tokens), per-doc
    // multiplicity join-back.
    "unigram_encode" -> s"""
      WITH vocab(p, c6) AS (VALUES ${uniVocabValues(UniEncVocab)}),
      dwm AS (
        SELECT doc_id, w, count(*)::BIGINT AS m FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) >= 1 GROUP BY 1, 2),
      dwu AS MATERIALIZED (SELECT DISTINCT w FROM dwm),
      ${uniDpSql("e", "dwu", "vocab")}
      SELECT doc_id, sum(m)::BIGINT AS n_words,
        sum(m * (st % 1024))::BIGINT AS n_tokens,
        round(sum(m * (st // 1024))::DOUBLE / 1000000.0, 6) + 0.0 AS nll
      FROM dwm JOIN fine USING (w) GROUP BY 1 ORDER BY doc_id""",

    // Replay of Unigram.fertility: same DP, grouped by language.
    "unigram_fertility" -> s"""
      WITH vocab(p, c6) AS (VALUES ${uniVocabValues(UniEncVocab)}),
      gwm AS (
        SELECT lang AS "group", w, count(*)::BIGINT AS m FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) >= 1 GROUP BY 1, 2),
      nd AS (SELECT lang AS "group", count(*)::BIGINT AS n_docs
             FROM documents GROUP BY 1),
      dwu AS MATERIALIZED (SELECT DISTINCT w FROM gwm),
      ${uniDpSql("f", "dwu", "vocab")},
      agg AS (
        SELECT "group", sum(m)::BIGINT AS n_words,
          sum(m * (st % 1024))::BIGINT AS n_tokens
        FROM gwm JOIN finf USING (w) GROUP BY 1)
      SELECT a."group", nd.n_docs, a.n_words, a.n_tokens,
        round(a.n_tokens::DOUBLE / a.n_words::DOUBLE, 6) AS fertility
      FROM agg a JOIN nd USING ("group") ORDER BY a."group"""",

    // Replay of Unigram.learn: substring seed (top-K plus all single
    // chars), then per EM round the forward DP + backtrack CTE chains
    // (the bpe_merges unrolling precedent), hard counts, re-costed
    // vocab; final top-24 ranking.
    "unigram_merges" -> {
      val emRounds = (1 to UniIters).map { t =>
        val vprev = s"v${t - 1}"
        s"""${uniDpAllSql(s"m$t", "dwu", vprev)},
      ${uniBacktrackSql(s"m$t", vprev)},
      c$t AS MATERIALIZED (
        SELECT piece AS p, sum(wn)::BIGINT AS cnt
        FROM usedm$t u JOIN wc USING (w)
        JOIN $vprev vv ON vv.p = u.piece GROUP BY 1),
      v$t AS MATERIALIZED (
        SELECT p, CAST(round(-ln(cnt::DOUBLE /
          (SELECT sum(cnt)::DOUBLE FROM c$t)) * 1000000.0) AS BIGINT)
          AS c6
        FROM c$t)"""
      }.mkString(",\n      ")
      s"""
      WITH wc AS (
        SELECT w, count(*)::BIGINT AS wn FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) >= 1 GROUP BY 1),
      dwu AS (SELECT w FROM wc),
      subs AS (
        SELECT substr(w, i::INT, l::INT) AS p, sum(wn)::BIGINT AS cnt
        FROM wc,
          unnest(generate_series(1, length(w))) AS t(i),
          unnest(generate_series(1,
            least($UniMaxPiece, length(w) - i + 1))) AS u(l)
        GROUP BY 1),
      topseed AS (SELECT p, cnt FROM subs ORDER BY cnt DESC, p
                  LIMIT $UniSeed),
      seed AS (SELECT DISTINCT p, cnt FROM (
        SELECT * FROM topseed
        UNION ALL SELECT p, cnt FROM subs WHERE length(p) = 1)),
      v0 AS MATERIALIZED (
        SELECT p, CAST(round(-ln(cnt::DOUBLE /
          (SELECT sum(cnt)::DOUBLE FROM seed)) * 1000000.0) AS BIGINT)
          AS c6
        FROM seed),
      $emRounds
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, p) AS BIGINT)
          AS rank, p AS piece, cnt,
        round(ln(cnt::DOUBLE /
          (SELECT sum(cnt)::DOUBLE FROM c$UniIters)), 6) + 0.0 AS logp
      FROM c$UniIters QUALIFY rank <= $UniVocab ORDER BY rank"""
    },

    // Replay of TextAnalysis.dupSpans: distinct hashed word 8-grams per
    // doc (whole-text fallback under 8 words), gram -> containing-doc
    // count, per-doc duplicated fraction.
    "text_dup_spans" -> s"""
      WITH ws AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      g AS (
        SELECT doc_id, unnest(CASE WHEN len(w) >= $DupSpanN
          THEN list_distinct(list_transform(
                 list_transform(generate_series(1, len(w) - ${DupSpanN - 1}),
                   i -> array_to_string(w[i:i+${DupSpanN - 1}], ' ')),
                 s -> ('0x'||substr(md5(s),1,8))::BIGINT % $P))
          ELSE [('0x'||substr(md5(text),1,8))::BIGINT % $P] END) AS h
        FROM ws),
      dfq AS (SELECT h, count(*) AS df FROM g GROUP BY 1)
      SELECT doc_id, count(*)::BIGINT AS n_grams,
        sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::DOUBLE
          / count(*)::DOUBLE, 6) AS dup_frac
      FROM g JOIN dfq USING (h)
      GROUP BY 1 ORDER BY doc_id""",

    // Replay of TextAnalysis.dupRuns: POSITIONAL gram hashes (duplicates
    // kept), dup = gram in >= 2 distinct docs, gaps-and-islands runs.
    "text_dup_runs" -> s"""
      WITH ws AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      hs AS (
        SELECT doc_id, CASE WHEN len(w) >= $DupSpanN
            THEN list_transform(
                   list_transform(generate_series(1, len(w) - ${DupSpanN - 1}),
                     i -> array_to_string(w[i:i+${DupSpanN - 1}], ' ')),
                   s -> ('0x'||substr(md5(s),1,8))::BIGINT % $P)
            ELSE [('0x'||substr(md5(text),1,8))::BIGINT % $P] END AS hl
        FROM ws),
      g AS (
        SELECT doc_id, i AS pos, hl[i] AS h
        FROM hs, unnest(generate_series(1, len(hl))) AS t(i)),
      dfq AS (SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
      flags AS (
        SELECT doc_id, pos, df > 1 AS dup FROM g JOIN dfq USING (h)),
      isl AS (
        SELECT doc_id, dup,
          pos - row_number() OVER (PARTITION BY doc_id, dup ORDER BY pos)
            AS grp
        FROM flags),
      runs AS (
        SELECT doc_id, count(*) AS rl FROM isl WHERE dup
        GROUP BY doc_id, grp)
      SELECT f.doc_id, count(*)::BIGINT AS n_grams,
        sum(CASE WHEN f.dup THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        coalesce((SELECT max(rl) FROM runs r WHERE r.doc_id = f.doc_id),
          0)::BIGINT AS max_run
      FROM flags f GROUP BY f.doc_id ORDER BY f.doc_id""",

    // INDEPENDENT statement of the longest-shared-substring semantics
    // (verdict contract: the oracle derives max shared substring length
    // per doc pair on its own): per pair of >= N-word docs, the longest
    // run of consecutive positions where A and B carry the SAME n-gram at
    // a FIXED offset (the alignment diagonal), reported as run + n - 1
    // words. Same md5%P gram hashing and the same df-cap guard, so both
    // engines see the identical gram universe.
    "text_dup_substring" -> s"""
      WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      lng AS (SELECT doc_id, w FROM ws WHERE len(w) >= $DupSpanN),
      g AS (
        SELECT doc_id, i AS pos,
          ('0x'||substr(md5(array_to_string(w[i:i+${DupSpanN - 1}], ' ')),
            1, 8))::BIGINT % $P AS h
        FROM lng, unnest(generate_series(1, len(w) - ${DupSpanN - 1}))
          AS t(i)),
      dfq AS (
        SELECT h FROM (
          SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        WHERE df BETWEEN 2 AND 1000),
      keep AS (SELECT g.* FROM g JOIN dfq USING (h)),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
          a.pos - b.pos AS diag
        FROM keep a JOIN keep b USING (h)
        WHERE a.doc_id < b.doc_id),
      isl AS (
        SELECT doc_a, doc_b, diag,
          pa - row_number() OVER (
            PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM pairs),
      runs AS (
        SELECT doc_a, doc_b, count(*)::BIGINT AS rl
        FROM isl GROUP BY doc_a, doc_b, diag, grp)
      SELECT doc_a, doc_b, max(rl)::BIGINT AS max_run,
        (max(rl) + ${DupSpanN - 1})::BIGINT AS shared_words
      FROM runs GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replay of dupSubstringApply: victim-side aligned runs (higher id
    // loses), covered positions exploded per run, anti-joined word
    // positions, ordered reassembly; sub-n docs pass through untouched.
    "text_dup_substring_apply" -> s"""
      WITH ws AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      lng AS (SELECT doc_id, w FROM ws WHERE len(w) >= $DupSpanN),
      g AS (
        SELECT doc_id, i AS pos,
          ('0x'||substr(md5(array_to_string(w[i:i+${DupSpanN - 1}], ' ')),
            1, 8))::BIGINT % $P AS h
        FROM lng, unnest(generate_series(1, len(w) - ${DupSpanN - 1}))
          AS t(i)),
      dfq AS (
        SELECT h FROM (
          SELECT h, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        WHERE df BETWEEN 2 AND 1000),
      keep AS (SELECT g.* FROM g JOIN dfq USING (h)),
      pairs AS (
        SELECT b.doc_id AS victim, a.doc_id AS keeper,
          b.pos - a.pos AS diag, b.pos AS pv
        FROM keep a JOIN keep b USING (h)
        WHERE a.doc_id < b.doc_id),
      isl AS (
        SELECT victim, keeper, diag, pv,
          pv - row_number() OVER (
            PARTITION BY victim, keeper, diag ORDER BY pv) AS grp
        FROM pairs),
      runs AS (
        SELECT victim, min(pv) AS p0, count(*)::BIGINT AS rl
        FROM isl GROUP BY victim, keeper, diag, grp),
      cov AS (
        SELECT DISTINCT victim AS doc_id, t.wp
        FROM runs, unnest(generate_series(p0, p0 + rl + ${DupSpanN - 2}))
          AS t(wp)),
      kept AS (
        SELECT s.doc_id, t.i AS wp, s.w[t.i] AS word
        FROM ws s, unnest(generate_series(1, len(s.w))) AS t(i)
        WHERE len(s.w) >= $DupSpanN
          AND NOT EXISTS (SELECT 1 FROM cov c
            WHERE c.doc_id = s.doc_id AND c.wp = t.i)),
      reasm AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY wp) AS clean_text,
          count(*)::BIGINT AS nk
        FROM kept GROUP BY doc_id)
      SELECT s.doc_id,
        CASE WHEN len(s.w) < $DupSpanN THEN s.text
          ELSE coalesce(r.clean_text, '') END AS clean_text,
        len(s.w)::BIGINT AS n_words,
        (CASE WHEN len(s.w) < $DupSpanN THEN 0
          ELSE len(s.w) - coalesce(r.nk, 0) END)::BIGINT AS n_dropped
      FROM ws s LEFT JOIN reasm r USING (doc_id) ORDER BY s.doc_id""",

    // Replay of selfRepetitionApply: same-doc gram position pairs
    // (later > earlier, occ capped at 64), diagonal islands, covered
    // later positions excised, ordered reassembly.
    "text_self_repetition_apply" -> s"""
      WITH ws AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
      lng AS (SELECT doc_id, w FROM ws WHERE len(w) >= $SelfRepN),
      g AS (
        SELECT doc_id, i AS pos,
          ('0x'||substr(md5(array_to_string(w[i:i+${SelfRepN - 1}], ' ')),
            1, 8))::BIGINT % $P AS h
        FROM lng, unnest(generate_series(1, len(w) - ${SelfRepN - 1}))
          AS t(i)),
      occ AS (
        SELECT doc_id, h FROM (
          SELECT doc_id, h, count(*) AS c FROM g GROUP BY 1, 2)
        WHERE c BETWEEN 2 AND 64),
      rep AS (SELECT g.* FROM g JOIN occ USING (doc_id, h)),
      pairs AS (
        SELECT DISTINCT a.doc_id, b.pos - a.pos AS diag, b.pos AS pv
        FROM rep a JOIN rep b USING (doc_id, h)
        WHERE b.pos > a.pos),
      isl AS (
        SELECT doc_id, diag, pv,
          pv - row_number() OVER (
            PARTITION BY doc_id, diag ORDER BY pv) AS grp
        FROM pairs),
      runs AS (
        SELECT doc_id, min(pv) AS p0, count(*)::BIGINT AS rl
        FROM isl GROUP BY doc_id, diag, grp),
      cov AS (
        SELECT DISTINCT doc_id, t.wp
        FROM runs, unnest(generate_series(p0, p0 + rl + ${SelfRepN - 2}))
          AS t(wp)),
      kept AS (
        SELECT s.doc_id, t.i AS wp, s.w[t.i] AS word
        FROM ws s, unnest(generate_series(1, len(s.w))) AS t(i)
        WHERE len(s.w) >= $SelfRepN
          AND NOT EXISTS (SELECT 1 FROM cov c
            WHERE c.doc_id = s.doc_id AND c.wp = t.i)),
      reasm AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY wp) AS clean_text,
          count(*)::BIGINT AS nk
        FROM kept GROUP BY doc_id)
      SELECT s.doc_id,
        CASE WHEN len(s.w) < $SelfRepN THEN s.text
          ELSE coalesce(r.clean_text, '') END AS clean_text,
        len(s.w)::BIGINT AS n_words,
        (CASE WHEN len(s.w) < $SelfRepN THEN 0
          ELSE len(s.w) - coalesce(r.nk, 0) END)::BIGINT AS n_dropped
      FROM ws s LEFT JOIN reasm r USING (doc_id) ORDER BY s.doc_id""",

    // Replay of TextAnalysis.keyness: Monroe log-odds with the corpus as
    // Dirichlet prior; identical double arithmetic order, 6dp + -0 guard.
    "text_keyness" -> s"""
      WITH w AS (
        SELECT lang AS grp, unnest(string_split(text, ' ')) AS word
        FROM documents),
      y AS (SELECT grp, word, count(*)::BIGINT AS y FROM w GROUP BY 1, 2),
      ng AS (SELECT grp, sum(y)::BIGINT AS n_g FROM y GROUP BY 1),
      yw AS (SELECT word, sum(y)::BIGINT AS y_w FROM y GROUP BY 1),
      tot AS (SELECT sum(y)::BIGINT AS n_tot FROM y),
      j AS (
        SELECT grp, word, y, n_g, y_w, n_tot,
          ($KeynessAlpha)::DOUBLE * y_w::DOUBLE / n_tot::DOUBLE AS aw,
          (y_w - y)::DOUBLE AS yr, (n_tot - n_g)::DOUBLE AS nr
        FROM y JOIN ng USING (grp) JOIN yw USING (word) CROSS JOIN tot),
      s AS (
        SELECT grp, word, y,
          round((ln((y::DOUBLE + aw)
                  / (n_g::DOUBLE + ($KeynessAlpha)::DOUBLE - y::DOUBLE - aw))
               - ln((yr + aw) / (nr + ($KeynessAlpha)::DOUBLE - yr - aw)))
            / sqrt(1.0::DOUBLE / (y::DOUBLE + aw)
                 + 1.0::DOUBLE / (yr + aw)), 6) + 0.0 AS z
        FROM j)
      SELECT grp, word, y, z FROM (
        SELECT *, row_number() OVER (PARTITION BY grp
          ORDER BY z DESC, word) AS rn FROM s)
      WHERE rn <= $KeynessTopK
      ORDER BY grp, word""",

    // Replay of Profile.histogram: integer floor-div bins over n_chars.
    "profile_histogram" -> """
      SELECT bin, round(bin::DOUBLE * 200.0::DOUBLE, 6) AS bin_start, n FROM (
        SELECT floor(n_chars::DOUBLE / 200.0)::BIGINT AS bin,
          COUNT(*)::BIGINT AS n
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1)
      ORDER BY bin""",

    // Replay of TextAnalysis.ngramCounts: same bigrams as
    // text_repetition, corpus-wide counts, minCount prune.
    "ngram_counts" -> """
      WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
      g AS (SELECT w[i] || ' ' || w[i+1] AS gram
            FROM ws, unnest(generate_series(1, len(w)-1)) AS t(i))
      SELECT gram, COUNT(*)::BIGINT AS n
      FROM g GROUP BY gram HAVING COUNT(*) >= 5 ORDER BY gram""",

    // Replay of TextAnalysis.hashingVectorize: same h32 word buckets,
    // dim-16 counts zero-filled per dimension. Long format (doc_id, d, v):
    // the gate comparator can't hash arrays.
    "text_vectorize" -> s"""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
      c AS (SELECT doc_id,
              (('0x'||substr(md5(w),1,8))::BIGINT % $P) % 16 AS d,
              COUNT(*) AS c
            FROM w GROUP BY doc_id, d),
      g AS (SELECT doc_id, d
            FROM (SELECT DISTINCT doc_id FROM c)
            CROSS JOIN generate_series(0, 15) t(d))
      SELECT doc_id, d, coalesce(c, 0)::DOUBLE AS v
      FROM g LEFT JOIN c USING (doc_id, d)
      ORDER BY doc_id, d""",

    // Replay of Retrieval.invertedIndex: postings counts, df/cf per term,
    // minDf=5 prune, smoothed 6dp idf.
    "inverted_index" -> """
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM w GROUP BY term, doc_id),
      d AS (SELECT term, COUNT(*) AS df, SUM(tf) AS cf FROM tf GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT term, df::BIGINT AS df, cf::BIGINT AS cf,
        round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
      FROM d CROSS JOIN n WHERE df >= 5 ORDER BY term""",

    // Replay of Retrieval.bm25TopK: same fixed expression shape for the
    // per-(doc, term) weight, snapped to 6dp fixed-point longs whose SUM
    // is order-insensitive; k1+1 is embedded as the Scala-computed double
    // so both engines multiply by the identical constant.
    "bm25_topk" -> s"""
      WITH dls AS (SELECT doc_id,
              len(string_split(text, ' '))::BIGINT AS dl FROM documents),
      st AS (SELECT COUNT(*) AS n_docs,
              SUM(dl)::DOUBLE / COUNT(*)::DOUBLE AS avgdl FROM dls),
      w AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
              unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM w
             WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
             GROUP BY doc_id, dl, term),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      s AS (SELECT doc_id,
              CAST(round((ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                * ((tf * ${1.2 + 1d}) / (tf + 1.2 * (1 - 0.75
                  + 0.75 * (dl::DOUBLE / avgdl))))) * 1000000.0) AS BIGINT)
                AS w_fp
            FROM tf JOIN dfq USING (term) CROSS JOIN st),
      g AS (SELECT doc_id, COUNT(*) AS n_hit, SUM(w_fp) AS score_fp
            FROM s GROUP BY doc_id),
      r AS (SELECT doc_id, n_hit, score_fp, row_number() OVER
              (ORDER BY score_fp DESC, doc_id) AS rnk FROM g)
      SELECT rnk::BIGINT AS rnk, doc_id, n_hit::BIGINT AS n_hit,
        score_fp::BIGINT AS score_fp, score_fp::DOUBLE / 1000000.0 AS score
      FROM r WHERE rnk <= $Bm25K ORDER BY rnk""",

    // Replay of Retrieval.qldTopK: Dirichlet-smoothed query likelihood —
    // every query term scores every doc (background mass via the doc ×
    // query-term grid), ×1e6 fixed-point ln weights, exact long sums.
    "retrieval_qld" -> s"""
      WITH d AS (SELECT doc_id,
              len(string_split(text, ' '))::BIGINT AS dl FROM documents),
      tot AS (SELECT sum(dl)::BIGINT AS ct FROM d),
      w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
      tfq AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM w
              WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
              GROUP BY 1, 2),
      cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tfq GROUP BY 1),
      grid AS (
        SELECT d.doc_id, d.dl, cf.term, cf.cf,
          coalesce(tfq.tf, 0)::BIGINT AS tf
        FROM d CROSS JOIN cf
        LEFT JOIN tfq ON tfq.doc_id = d.doc_id AND tfq.term = cf.term),
      s AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_terms,
          sum(CAST(round(ln((tf::DOUBLE + 2000.0::DOUBLE
              * (cf::DOUBLE / ct::DOUBLE))
            / (dl::DOUBLE + 2000.0::DOUBLE)) * 1000000.0) AS BIGINT))
            AS score_fp
        FROM grid, tot GROUP BY doc_id),
      r AS (SELECT doc_id, n_terms, score_fp, row_number() OVER
              (ORDER BY score_fp DESC, doc_id) AS rnk FROM s)
      SELECT rnk::BIGINT AS rnk, doc_id, n_terms,
        score_fp::BIGINT AS score_fp,
        score_fp::DOUBLE / 1000000.0 AS score
      FROM r WHERE rnk <= $Bm25K ORDER BY rnk""",

    // Replay of Retrieval.rm3TopK: the retrieval_qld CTEs run twice —
    // once for the feedback top-5, once for the interpolated weighted
    // re-rank — with the uniform-weight relevance model in between:
    // rm(w) = Σ_fb (tf·1e6)//dl exact longs, top-10 by (mass, term),
    // original terms at 500000 each, expansion at (1e6·rm)//(2·Σrm).
    "retrieval_rm3" -> s"""
      WITH d AS (SELECT doc_id,
              len(string_split(text, ' '))::BIGINT AS dl FROM documents),
      tot AS (SELECT sum(dl)::BIGINT AS ct FROM d),
      w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
      tfq0 AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM w
              WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
              GROUP BY 1, 2),
      cf0 AS (SELECT term, sum(tf)::BIGINT AS cf FROM tfq0 GROUP BY 1),
      grid0 AS (
        SELECT d.doc_id, d.dl, cf0.term, cf0.cf,
          coalesce(tfq0.tf, 0)::BIGINT AS tf
        FROM d CROSS JOIN cf0
        LEFT JOIN tfq0 ON tfq0.doc_id = d.doc_id AND tfq0.term = cf0.term),
      s0 AS (
        SELECT doc_id,
          sum(CAST(round(ln((tf::DOUBLE + 2000.0::DOUBLE
              * (cf::DOUBLE / ct::DOUBLE))
            / (dl::DOUBLE + 2000.0::DOUBLE)) * 1000000.0) AS BIGINT))
            AS score_fp
        FROM grid0, tot GROUP BY doc_id),
      fb AS (SELECT doc_id FROM s0 ORDER BY score_fp DESC, doc_id LIMIT 5),
      mass AS (
        SELECT term, sum((tf * 1000000) // dl) AS rm_fp FROM (
          SELECT w.doc_id, w.term, d.dl, COUNT(*)::BIGINT AS tf
          FROM w JOIN fb USING (doc_id) JOIN d ON d.doc_id = w.doc_id
          WHERE w.term NOT IN
              (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
            AND w.term <> ''
          GROUP BY 1, 2, 3)
        GROUP BY term),
      expt AS (SELECT term, rm_fp FROM mass
               ORDER BY rm_fp DESC, term LIMIT 10),
      rmt AS (SELECT sum(rm_fp) AS rt FROM expt),
      wt AS (
        SELECT term, 500000::BIGINT AS q_w FROM (VALUES
          ${Bm25Terms.map(t => s"('$t')").mkString(", ")}) t(term)
        UNION ALL
        SELECT term, (1000000 * rm_fp) // (2 * rt) FROM expt, rmt),
      tfq AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM w
              WHERE term IN (SELECT term FROM wt) GROUP BY 1, 2),
      cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tfq GROUP BY 1),
      grid AS (
        SELECT d.doc_id, d.dl, cf.term, cf.cf, wt.q_w,
          coalesce(tfq.tf, 0)::BIGINT AS tf
        FROM d CROSS JOIN cf
        JOIN wt USING (term)
        LEFT JOIN tfq ON tfq.doc_id = d.doc_id AND tfq.term = cf.term),
      s AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_terms,
          sum(q_w * CAST(round(ln((tf::DOUBLE + 2000.0::DOUBLE
              * (cf::DOUBLE / ct::DOUBLE))
            / (dl::DOUBLE + 2000.0::DOUBLE)) * 1000000.0) AS BIGINT))
            AS score_fp
        FROM grid, tot GROUP BY doc_id),
      r AS (SELECT doc_id, n_terms, score_fp, row_number() OVER
              (ORDER BY score_fp DESC, doc_id) AS rnk FROM s)
      SELECT rnk::BIGINT AS rnk, doc_id, n_terms,
        score_fp::BIGINT AS score_fp,
        score_fp::DOUBLE / 1000000.0 / 1000000.0 AS score
      FROM r WHERE rnk <= $Bm25K ORDER BY rnk""",

    // Replay of TimeSeries.acf: the events_seasonal dense grid, integer
    // hour index, lag self-join, exact HUGEINT cross sums, pinned-order
    // r_k expansion num = S − m(A+B) + c·m², den = Q − N·m².
    "ts_acf" -> """
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type,
          (epoch(g.hour_start)::BIGINT // 3600) AS h,
          coalesce(c.n_events, 0)::HUGEINT AS x
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      base AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(x) AS s,
          sum(x * x) AS q
        FROM dense GROUP BY 1),
      pairs AS (
        SELECT a.event_type, t.lag, count(*)::BIGINT AS c,
          sum(a.x) AS sa, sum(bb.x) AS sb, sum(a.x * bb.x) AS sk
        FROM dense a
        JOIN (SELECT unnest(generate_series(1, 24)) AS lag) t ON true
        JOIN dense bb
          ON bb.event_type = a.event_type AND bb.h = a.h + t.lag
        GROUP BY 1, 2),
      j AS (
        SELECT p.*, base.n, base.q,
          base.s::DOUBLE / base.n AS m
        FROM pairs p JOIN base USING (event_type))
      SELECT event_type, lag::BIGINT AS lag, c AS n_pairs,
        CASE WHEN q::DOUBLE - n::DOUBLE * m * m > 0 THEN
          (round((sk::DOUBLE - m * (sa + sb)::DOUBLE
              + c::DOUBLE * m * m)
            / (q::DOUBLE - n::DOUBLE * m * m), 6) + 0.0)
        ELSE NULL END AS acf
      FROM j ORDER BY event_type, lag""",

    // Replay of TimeSeries.theilSen: the dense hourly grid, per-key
    // pairwise slopes, quantile_cont median (== Spark percentile).
    "ts_theilsen" -> """
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type,
          (epoch(g.hour_start)::BIGINT // 3600) AS h,
          coalesce(c.n_events, 0)::BIGINT AS x
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      pairs AS (
        SELECT a.event_type,
          (bb.x - a.x)::DOUBLE / (bb.h - a.h)::DOUBLE AS s
        FROM dense a JOIN dense bb
          ON bb.event_type = a.event_type AND bb.h > a.h),
      agg AS (
        SELECT event_type, count(*)::BIGINT AS n_pairs,
          quantile_cont(s, 0.5) AS med
        FROM pairs GROUP BY 1),
      nh AS (SELECT event_type, count(*)::BIGINT AS n_hours
             FROM dense GROUP BY 1)
      SELECT agg.event_type, nh.n_hours, agg.n_pairs,
        (round(agg.med, 6) + 0.0) AS slope
      FROM agg JOIN nh USING (event_type)
      ORDER BY event_type""",

    // Replay of TimeSeries.mannKendall: exact integer S over the grid
    // pairs, HUGEINT tie rollup, continuity-corrected z.
    "ts_mannkendall" -> s"""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type,
          (epoch(g.hour_start)::BIGINT // 3600) AS h,
          coalesce(c.n_events, 0)::BIGINT AS x
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      s AS (
        SELECT a.event_type,
          sum(CASE WHEN bb.x > a.x THEN 1
              WHEN bb.x < a.x THEN -1 ELSE 0 END)::BIGINT AS s
        FROM dense a JOIN dense bb
          ON bb.event_type = a.event_type AND bb.h > a.h
        GROUP BY 1),
      ties AS (
        SELECT event_type,
          sum(t::HUGEINT * (t::HUGEINT - 1) * (t::HUGEINT * 2 + 5))
            AS tsum
        FROM (SELECT event_type, x, count(*)::BIGINT AS t
              FROM dense GROUP BY 1, 2)
        GROUP BY 1),
      nh AS (SELECT event_type, count(*)::BIGINT AS n_hours
             FROM dense GROUP BY 1),
      vv AS (
        SELECT nh.event_type, nh.n_hours, s.s,
          (nh.n_hours::DOUBLE * (nh.n_hours::DOUBLE - 1)
            * (nh.n_hours::DOUBLE * 2 + 5)
            - ties.tsum::DOUBLE) / 18.0 AS var_s
        FROM nh JOIN s USING (event_type) JOIN ties USING (event_type)),
      zz AS (
        SELECT event_type, n_hours, s, var_s,
          CASE WHEN var_s > 0 AND s > 0
            THEN (s::DOUBLE - 1) / sqrt(var_s)
          WHEN var_s > 0 AND s < 0
            THEN (s::DOUBLE + 1) / sqrt(var_s)
          ELSE 0.0::DOUBLE END AS zraw
        FROM vv)
      SELECT event_type, n_hours, s,
        (round(var_s, 6) + 0.0) AS var_s,
        (round(zraw, 6) + 0.0) AS z,
        (round(${graft.functions.PValues.pTwoSidedZSql("zraw")}, 6) + 0.0)
          AS p_value
      FROM zz
      ORDER BY event_type""",

    // Replay of Profile.gini: per-(group, fixed-point value) counts,
    // value-ordered window, the exact rank-free numerator
    // sum(x·c·(2C + c − 1)) − (n−1)·sum(x·c).
    "profile_gini" -> """
      WITH vc AS (
        SELECT lang, CAST(round(n_chars::DOUBLE * 1048576.0) AS BIGINT)
          AS v, count(*)::BIGINT AS c
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY 1, 2),
      wc AS (
        SELECT lang, v, c,
          sum(c) OVER (PARTITION BY lang ORDER BY v) - c AS cum
        FROM vc),
      agg AS (
        SELECT lang, sum(c)::BIGINT AS n,
          sum(v::HUGEINT * c::HUGEINT) AS sx,
          sum(v::HUGEINT * c::HUGEINT
            * (cum::HUGEINT * 2 + c::HUGEINT - 1)) AS num0
        FROM wc GROUP BY 1)
      SELECT lang, n,
        (round(CASE WHEN sx > 0 THEN
          (num0::DOUBLE - (n - 1)::DOUBLE * sx::DOUBLE)
            / (n::DOUBLE * sx::DOUBLE)
          ELSE NULL END, 6) + 0.0) AS gini
      FROM agg
      ORDER BY lang""",

    // Replay of Encoding.targetEncodeLoo: exact HUGEINT fixed-point
    // category sums, (S − y)/(n − 1) per row, global-mean fallback for
    // singleton and NULL categories.
    "encode_target_loo" -> """
      WITH slim AS (
        SELECT doc_id, source::VARCHAR AS c,
          CAST(round(n_chars::DOUBLE * 1048576.0) AS HUGEINT) AS yfp
        FROM documents WHERE n_chars IS NOT NULL),
      g AS (SELECT c, sum(yfp) AS s, count(*)::BIGINT AS n
            FROM slim WHERE c IS NOT NULL GROUP BY 1),
      t AS (SELECT sum(yfp) AS ts, count(*)::BIGINT AS tn FROM slim)
      SELECT slim.doc_id, slim.c AS source,
        (round(CASE WHEN g.n > 1
          THEN (g.s - slim.yfp)::DOUBLE / 1048576.0 / (g.n - 1)::DOUBLE
          ELSE t.ts::DOUBLE / 1048576.0 / t.tn::DOUBLE END, 6) + 0.0)
          AS target_loo
      FROM slim LEFT JOIN g ON slim.c = g.c, t
      ORDER BY slim.doc_id""",

    // Replay of Encoding.woe: level counts, one-row totals, the
    // smoothed share ratio in the pinned order, ×2^20 IV term sum.
    "encode_woe" -> """
      WITH c AS (
        SELECT o_orderpriority::VARCHAR AS level,
          count(*)::BIGINT AS n,
          sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
            AS n_pos
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        GROUP BY 1),
      t AS (SELECT count(*)::BIGINT AS k, sum(n_pos)::BIGINT AS tp,
              sum(n - n_pos)::BIGINT AS tn FROM c),
      sc AS (
        SELECT level, n, n_pos, n - n_pos AS n_neg,
          (n_pos::DOUBLE + 0.5::DOUBLE)
            / (t.tp::DOUBLE + t.k::DOUBLE * 0.5::DOUBLE) AS ps,
          ((n - n_pos)::DOUBLE + 0.5::DOUBLE)
            / (t.tn::DOUBLE + t.k::DOUBLE * 0.5::DOUBLE) AS ns
        FROM c, t),
      sw AS (
        SELECT level, n, n_pos, n_neg,
          ln(ps / ns) AS w, (ps - ns) * ln(ps / ns) AS ivt
        FROM sc),
      iv AS (
        SELECT sum(CAST(round(ivt * 1048576.0) AS BIGINT)) AS iv6
        FROM sw)
      SELECT level, n, n_pos, n_neg,
        (round(w, 6) + 0.0) AS woe,
        (round(ivt, 6) + 0.0) AS iv_term,
        (round(iv.iv6::DOUBLE / 1048576.0, 6) + 0.0) AS iv
      FROM sw, iv ORDER BY level""",

    // Replay of Drift.postStratified: arm×stratum exact fixed-point
    // cells, pooled stratum shares, ×2^20 per-term snap so the
    // cross-stratum sum is order-insensitive.
    "ab_poststrat" -> """
      WITH slim AS (
        SELECT event_type::VARCHAR AS arm,
          (user_id % 4)::VARCHAR AS s,
          CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT) AS yfp
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
          AND user_id IS NOT NULL),
      cell AS (SELECT arm, s, sum(yfp) AS cs, count(*)::BIGINT AS cn
               FROM slim GROUP BY 1, 2),
      strata AS (SELECT s, sum(cn)::BIGINT AS sn FROM cell GROUP BY 1),
      tot AS (SELECT sum(sn)::BIGINT AS tn FROM strata),
      terms AS (
        SELECT cell.arm, cell.cs, cell.cn,
          CAST(round((strata.sn::DOUBLE / tot.tn::DOUBLE)
            * (cell.cs::DOUBLE / 1048576.0 / cell.cn::DOUBLE)
            * 1048576.0) AS BIGINT) AS term
        FROM cell JOIN strata USING (s), tot)
      SELECT arm, sum(cn)::BIGINT AS n,
        (round(sum(cs)::DOUBLE / 1048576.0 / sum(cn)::DOUBLE, 6) + 0.0)
          AS mean,
        (round(sum(term)::DOUBLE / 1048576.0, 6) + 0.0) AS mean_adj
      FROM terms GROUP BY arm
      ORDER BY arm""",

    // Replay of Retrieval.rrfFuse over the bm25_topk ranking (pool
    // $RrfPoolK) and the cosine ranking of query vector $RrfQueryVec:
    // per-list contribution floor(1e6/($RrfC + rnk)) summed as longs.
    "retrieval_rrf" -> s"""
      WITH dls AS (SELECT doc_id,
              len(string_split(text, ' '))::BIGINT AS dl FROM documents),
      st AS (SELECT COUNT(*) AS n_docs,
              SUM(dl)::DOUBLE / COUNT(*)::DOUBLE AS avgdl FROM dls),
      w AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
              unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM w
             WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
             GROUP BY doc_id, dl, term),
      dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      s AS (SELECT doc_id,
              CAST(round((ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                * ((tf * ${1.2 + 1d}) / (tf + 1.2 * (1 - 0.75
                  + 0.75 * (dl::DOUBLE / avgdl))))) * 1000000.0) AS BIGINT)
                AS w_fp
            FROM tf JOIN dfq USING (term) CROSS JOIN st),
      g AS (SELECT doc_id, SUM(w_fp) AS score_fp FROM s GROUP BY doc_id),
      lex AS (SELECT doc_id, row_number() OVER
                (ORDER BY score_fp DESC, doc_id) AS rnk FROM g
              QUALIFY rnk <= $RrfPoolK),
      cs AS (SELECT b.vec_id AS doc_id, ${cosD("a", "b")} AS cosine
             FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
             WHERE a.vec_id = $RrfQueryVec),
      sem AS (SELECT doc_id, row_number() OVER
                (ORDER BY cosine DESC, doc_id) AS rnk FROM cs
              QUALIFY rnk <= $RrfPoolK),
      u AS (SELECT doc_id,
              CAST(floor(1000000.0::DOUBLE / ($RrfC + rnk)::DOUBLE) AS BIGINT) AS c_fp
            FROM lex
            UNION ALL
            SELECT doc_id,
              CAST(floor(1000000.0::DOUBLE / ($RrfC + rnk)::DOUBLE) AS BIGINT) AS c_fp
            FROM sem),
      f AS (SELECT doc_id, COUNT(*)::BIGINT AS n_lists,
              SUM(c_fp)::BIGINT AS score_fp
            FROM u GROUP BY doc_id),
      rr AS (SELECT *, row_number() OVER
               (ORDER BY score_fp DESC, doc_id) AS rnk FROM f
             QUALIFY rnk <= $RrfTopK)
      SELECT rnk::BIGINT AS rnk, doc_id, n_lists, score_fp,
        score_fp::DOUBLE / 1000000.0 AS score
      FROM rr ORDER BY rnk""",

    // Replay of Pii.stats over the same injected corpus: RE2 and Java
    // regex agree on these backref-free patterns; counts are
    // non-overlapping matches on the original text.
    "pii_stats" -> s"""
      WITH pd AS ($PiiInjectSql)
      SELECT doc_id,
        len(regexp_extract_all(text, '$PiiEmailSql'))::BIGINT AS n_emails,
        len(regexp_extract_all(text, '$PiiIpSql'))::BIGINT AS n_ips,
        len(regexp_extract_all(text, '$PiiPhoneSql'))::BIGINT AS n_phones,
        (len(regexp_extract_all(text, '$PiiEmailSql'))
          + len(regexp_extract_all(text, '$PiiIpSql'))
          + len(regexp_extract_all(text, '$PiiPhoneSql')) > 0) AS has_pii
      FROM pd ORDER BY doc_id""",

    // Replay of Pii.scrub: email -> IP -> phone replacement order, global
    // flag (Spark's regexp_replace always replaces all matches).
    "pii_scrub" -> s"""
      WITH pd AS ($PiiInjectSql)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(text,
          '$PiiEmailSql', '<EMAIL>', 'g'),
          '$PiiIpSql', '<IP>', 'g'),
          '$PiiPhoneSql', '<PHONE>', 'g') AS text
      FROM pd ORDER BY doc_id""",

    // Replay of Profile.corpusReport: same injected corpus, each
    // statistic its own aggregate, digest distinct via sha256.
    "corpus_report" -> s"""
      WITH pd AS ($PiiInjectSql),
      b AS (SELECT count(*)::BIGINT AS n_docs,
              sum(length(text))::BIGINT AS chars FROM pd),
      dt AS (SELECT count(DISTINCT sha256(text))::BIGINT
               AS n_distinct_texts FROM pd),
      dl AS (SELECT count(DISTINCT lang)::BIGINT AS n_langs FROM pd),
      pii AS (SELECT count(*)::BIGINT AS n_pii_docs FROM pd
              WHERE len(regexp_extract_all(text, '$PiiEmailSql'))
                + len(regexp_extract_all(text, '$PiiIpSql'))
                + len(regexp_extract_all(text, '$PiiPhoneSql')) > 0),
      top AS (SELECT source AS top_source, count(*)::BIGINT AS n
              FROM pd GROUP BY 1 ORDER BY n DESC, top_source LIMIT 1)
      SELECT b.n_docs,
        (b.n_docs - dt.n_distinct_texts) AS n_exact_dups,
        round((b.n_docs - dt.n_distinct_texts)::DOUBLE / b.n_docs, 6)
          AS dup_rate,
        pii.n_pii_docs,
        round(pii.n_pii_docs::DOUBLE / b.n_docs, 6) AS pii_rate,
        dl.n_langs,
        round(b.chars::DOUBLE / b.n_docs, 6) AS mean_chars,
        top.top_source,
        round(top.n::DOUBLE / b.n_docs, 6) AS top_source_share
      FROM b CROSS JOIN dt CROSS JOIN dl CROSS JOIN pii
        CROSS JOIN top""",

    "pii_kanon" -> s"""
      SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS group_n,
        (count(*) < $KanonK) AS at_risk
      FROM customer GROUP BY 1, 2 ORDER BY 1, 2""",


    // Replay of Pii.tClosenessProfile: corpus-sorted value grid per
    // combo, exact HUGEINT cumulative-difference numerators, x2^20
    // fixed-point term sum, /(m-1) normalization.
    "pii_tcloseness" -> s"""
      WITH slim AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
          c_acctbal::DOUBLE AS v, count(*)::BIGINT AS cgv
        FROM customer
        WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
          AND c_acctbal IS NOT NULL
        GROUP BY 1, 2, 3),
      corpus AS (SELECT v, sum(cgv)::BIGINT AS cv FROM slim GROUP BY 1),
      corpcum AS (
        SELECT v, sum(cv) OVER (ORDER BY v)::BIGINT AS cum,
          (SELECT count(*) FROM corpus)::BIGINT AS m,
          (SELECT sum(cv) FROM corpus)::BIGINT AS n
        FROM corpus),
      grp AS (SELECT seg, nat, sum(cgv)::BIGINT AS ng
              FROM slim GROUP BY 1, 2),
      grid AS (
        SELECT g.seg, g.nat, c.v, coalesce(s.cgv, 0)::BIGINT AS na
        FROM grp g CROSS JOIN corpus c
        LEFT JOIN slim s ON s.seg = g.seg AND s.nat = g.nat AND s.v = c.v),
      cum AS (
        SELECT seg, nat, v,
          sum(na) OVER (PARTITION BY seg, nat ORDER BY v)::BIGINT AS ca
        FROM grid),
      terms AS (
        SELECT c.seg, c.nat, g.ng, cc.m,
          CASE WHEN cc.cum < cc.n THEN CAST(round(
            abs(CAST(ca AS HUGEINT) * cc.n - CAST(cc.cum AS HUGEINT) * g.ng)
              ::DOUBLE
            / (g.ng::DOUBLE * cc.n::DOUBLE) * 1048576.0) AS BIGINT)
          END AS t6
        FROM cum c JOIN corpcum cc USING (v)
        JOIN grp g ON g.seg = c.seg AND g.nat = c.nat),
      per AS (
        SELECT seg, nat, max(ng)::BIGINT AS group_n,
          max(m)::BIGINT AS n_values, sum(t6)::BIGINT AS fp
        FROM terms GROUP BY 1, 2),
      fin AS (
        SELECT seg AS c_mktsegment, nat AS c_nationkey, group_n, n_values,
          (round(CASE WHEN n_values > 1
            THEN fp::DOUBLE / 1048576.0 / (n_values - 1)::DOUBLE
            ELSE 0.0::DOUBLE END, 6) + 0.0) AS emd
        FROM per)
      SELECT c_mktsegment, c_nationkey, group_n, n_values, emd,
        (emd > $TclosT::DOUBLE) AS at_risk
      FROM fin ORDER BY c_mktsegment, c_nationkey""",

    // Replay of Pii.lDiversityProfile over the same balance-tier
    // sensitive attribute.
    "pii_ldiversity" -> s"""
      WITH t AS (
        SELECT c_mktsegment, c_nationkey,
          CASE WHEN c_acctbal < 0 THEN 'neg'
               WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_tier
        FROM customer)
      SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS group_n,
        count(DISTINCT bal_tier)::BIGINT AS distinct_sensitive,
        (count(DISTINCT bal_tier) < $LdivL) AS at_risk
      FROM t GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replay of Pii.kAnonymize: combo sizes once, full-cell '*' for
    // under-k combos, quasi-ids stringified like the Spark cast.
    "pii_suppress" -> s"""
      WITH gs AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
                    count(*) < $KanonK AS at_risk
                  FROM customer GROUP BY 1, 2)
      SELECT c_custkey,
        CASE WHEN at_risk THEN '*' ELSE c.c_mktsegment END AS c_mktsegment,
        CASE WHEN at_risk THEN '*' ELSE c.c_nationkey::VARCHAR END
          AS c_nationkey
      FROM customer c JOIN gs ON c.c_mktsegment = gs.seg
        AND c.c_nationkey = gs.nat
      ORDER BY c_custkey""",

    // Replay of Pii.noisyCounts: same md5-derived uniform, inverse-CDF
    // Laplace draw, clamp at 0; every literal cast ::DOUBLE so DuckDB's
    // DECIMAL literals never enter the arithmetic.
    // Replay of Pii.randomizedResponseCounts: exact-Bernoulli keep via
    // the raw 32-bit hash against floor(p * 2^32), replacement indexed
    // into the sorted domain minus the true value, GRR inversion in
    // exact integers with one final 6dp division.
    "dp_randomized_response" -> {
      val keep = (BigInt(RrPNum) * BigInt(2).pow(32) / BigInt(RrPDen))
        .toLong
      s"""
      WITH rows0 AS (SELECT doc_id::VARCHAR AS id, lang AS v
            FROM documents WHERE lang IS NOT NULL),
      dom AS MATERIALIZED (SELECT v,
            row_number() OVER (ORDER BY v) - 1 AS rnk
          FROM (SELECT DISTINCT v FROM rows0)),
      dd AS (SELECT count(*) AS d, list(v ORDER BY v) AS arr FROM dom),
      rep AS (
        SELECT CASE
            WHEN ('0x'||substr(md5(id || ':rr'),1,8))::BIGINT < $keep
              THEN v
            ELSE arr[(CASE WHEN pick < rnk THEN pick ELSE pick + 1 END
              + 1)::INT]
          END AS reported
        FROM (SELECT id, v, rnk, arr, d,
            ('0x'||substr(md5(id || ':rr:pick'),1,8))::BIGINT % (d - 1)
              AS pick
          FROM rows0 JOIN dom USING (v) CROSS JOIN dd)),
      counts AS (SELECT reported AS value, count(*)::BIGINT AS c
          FROM rep GROUP BY 1),
      tot AS (SELECT sum(c)::BIGINT AS n FROM counts)
      SELECT dom.v AS value, coalesce(c, 0)::BIGINT AS n_reported,
        round((coalesce(c, 0) * $RrPDen * (d - 1)
            - n * (${RrPDen - RrPNum}))::DOUBLE
          / (${RrPNum} * d - $RrPDen), 6) + 0 AS n_est
      FROM dom LEFT JOIN counts ON counts.value = dom.v
      CROSS JOIN tot CROSS JOIN dd
      ORDER BY value"""
    },

    "dp_noisy_counts" -> s"""
      WITH g AS (SELECT lang, source, count(*)::BIGINT AS n FROM documents
                 GROUP BY 1, 2),
      u AS (SELECT *,
              ((('0x'||substr(md5(lang||'|'||source||'|$DpSalt'),1,8))::BIGINT
                % $P + 1)::DOUBLE / ${P + 2}::DOUBLE - 0.5::DOUBLE) AS c
            FROM g)
      SELECT lang, source, n,
        greatest(0.0::DOUBLE, round(n + (-$DpScale)::DOUBLE * sign(c)
          * ln(1.0::DOUBLE - 2.0::DOUBLE * abs(c))))::BIGINT AS noisy_n
      FROM u ORDER BY lang, source""",

    // Oracle for Sampling.globalOrdinal: the single-partition window the
    // operator computes scalably.
    "curriculum_order" -> """
      SELECT doc_id,
        row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS pos
      FROM documents ORDER BY pos""",

    // Replay of TextAnalysis.bpeApplyMerges: chr(31)-framed chars, the
    // same literal replace chain in merge order, token count minus space
    // boundaries, md5 fingerprint of the encoded sequence.
    "bpe_encode" -> s"""
      WITH f AS (SELECT doc_id, replace(text, chr(31), '') AS ct
                 FROM documents),
      e AS (SELECT doc_id, ct,
              ${bpeChainSql(
                "regexp_replace(ct, '(.)', chr(31)||'\\1'||chr(31), 'g')")}
              AS enc
            FROM f)
      SELECT doc_id,
        (((length(enc) - length(replace(enc, chr(31), '')))::DOUBLE
            / 2.0::DOUBLE)
          - (length(ct) - length(replace(ct, ' ', ''))))::BIGINT AS n_tokens,
        ('0x'||substr(md5(enc),1,8))::BIGINT % $P AS token_fp
      FROM e ORDER BY doc_id""",

    // Replay of TextAnalysis.bpeFertility: same per-row token expression
    // as bpe_encode, whitespace words = spaces + 1, all-long sums.
    "bpe_fertility" -> s"""
      WITH f AS (SELECT lang, replace(text, chr(31), '') AS ct
                 FROM documents),
      e AS (SELECT lang, ct,
              ${bpeChainSql(
                "regexp_replace(ct, '(.)', chr(31)||'\\1'||chr(31), 'g')")}
              AS enc
            FROM f),
      t AS (SELECT lang,
              (((length(enc) - length(replace(enc, chr(31), '')))::DOUBLE
                  / 2.0::DOUBLE)
                - (length(ct) - length(replace(ct, ' ', ''))))::BIGINT
                AS tok,
              (length(ct) - length(replace(ct, ' ', '')) + 1)::BIGINT
                AS words
            FROM e)
      SELECT lang AS "group", count(*)::BIGINT AS n_docs,
        sum(words)::BIGINT AS n_words, sum(tok)::BIGINT AS n_tokens,
        round(sum(tok)::DOUBLE / sum(words)::DOUBLE, 6) AS fertility
      FROM t GROUP BY 1 ORDER BY 1""",

    // Replay of ByteBpe.encode: chr(31)-framed BYTE-hex symbols over the
    // distinct-word table, the same literal replace chain in merge
    // order, token count = remaining frames / 2, per-doc multiplicity
    // join-back. No UNK column: byte fallback makes encoding total.
    "bytebpe_encode" -> s"""
      WITH wdm AS (
        SELECT doc_id, w, count(*)::BIGINT AS m FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) >= 1 GROUP BY 1, 2),
      wdu AS MATERIALIZED (SELECT DISTINCT w FROM wdm),
      seg AS MATERIALIZED (
        SELECT w,
          ((length(e) - length(replace(e, chr(31), '')))::DOUBLE
            / 2.0::DOUBLE)::BIGINT AS t,
          octet_length(encode(w))::BIGINT AS b
        FROM (SELECT w, ${byteBpeChainSql(byteFramedSql("w"))} AS e
              FROM wdu))
      SELECT doc_id, sum(m)::BIGINT AS n_words,
        sum(m * t)::BIGINT AS n_tokens,
        sum(m * b)::BIGINT AS n_bytes
      FROM wdm JOIN seg USING (w) GROUP BY 1 ORDER BY doc_id""",

    // Replay of ByteBpe.fertility: same distinct-word segmentation,
    // grouped by lang, plus the bytes-per-token compression readout.
    "bytebpe_fertility" -> s"""
      WITH wgm AS (
        SELECT lang AS "group", w, count(*)::BIGINT AS m FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) >= 1 GROUP BY 1, 2),
      wnd AS (SELECT lang AS "group", count(*)::BIGINT AS n_docs
              FROM documents GROUP BY 1),
      wdu AS MATERIALIZED (SELECT DISTINCT w FROM wgm),
      seg AS MATERIALIZED (
        SELECT w,
          ((length(e) - length(replace(e, chr(31), '')))::DOUBLE
            / 2.0::DOUBLE)::BIGINT AS t,
          octet_length(encode(w))::BIGINT AS b
        FROM (SELECT w, ${byteBpeChainSql(byteFramedSql("w"))} AS e
              FROM wdu)),
      agg AS (
        SELECT "group", sum(m)::BIGINT AS n_words,
          sum(m * t)::BIGINT AS n_tokens,
          sum(m * b)::BIGINT AS n_bytes
        FROM wgm JOIN seg USING (w) GROUP BY 1)
      SELECT a."group", wnd.n_docs, a.n_words, a.n_tokens, a.n_bytes,
        round(a.n_tokens::DOUBLE / a.n_words::DOUBLE, 6) AS fertility,
        round(a.n_bytes::DOUBLE / a.n_tokens::DOUBLE, 6)
          AS bytes_per_token
      FROM agg a JOIN wnd USING ("group") ORDER BY a."group"""",

    // Replay of Html.extract over the same synthetic markup: strip
    // script/style/comments, segment at block tags into chr(30)
    // records, per-block tag-strip + entity decode + squeeze, the
    // doubled-space stopword count, and the pinned integer keep rule.
    "text_html_extract" -> s"""
      WITH h AS (SELECT doc_id,
          replace(($HtmlSynthExpr), chr(30), '') AS html
        FROM documents),
      c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
          html,
          '(?is)<script([ \\t\\n\\r][^>]*)?>.*?</script[ \\t\\n\\r]*>',
          ' ', 'g'),
          '(?is)<style([ \\t\\n\\r][^>]*)?>.*?</style[ \\t\\n\\r]*>',
          ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g') AS nj FROM h),
      s AS (SELECT doc_id, string_split(regexp_replace(nj,
          '(?i)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|br|section|article|header|footer|nav|blockquote)([ \\t\\n\\r][^>]*)?/?>',
          chr(30), 'g'), chr(30)) AS bl FROM c),
      b AS (SELECT doc_id, t.i AS i, bl[i] AS raw
            FROM s, unnest(generate_series(1, len(bl))) AS t(i)),
      m AS (SELECT doc_id, i,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(replace(
              regexp_replace(raw, '<[^>]*>', ' ', 'g'),
              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
              '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
            '[ \\t\\n\\r]+', ' ', 'g')) AS bt,
          len(regexp_extract_all(raw, '(?i)<a[ >]'))::BIGINT AS links
        FROM b),
      w AS (SELECT doc_id, i, bt, links,
          (CASE WHEN bt = '' THEN 0
            ELSE len(string_split(bt, ' ')) END)::BIGINT AS nw,
          replace(' ' || lower(bt) || ' ', ' ', '  ') AS dbl
        FROM m),
      k AS (SELECT doc_id, i, bt, nw,
          (nw >= 3 AND ${htmlStopCountSql("dbl")} * 100 >= nw * 5
            AND links * 3 <= nw) AS keep
        FROM w)
      SELECT doc_id,
        sum(CASE WHEN nw > 0 THEN 1 ELSE 0 END)::BIGINT AS n_blocks,
        sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        sum(CASE WHEN keep THEN nw ELSE 0 END)::BIGINT AS n_words,
        coalesce(string_agg(CASE WHEN keep THEN bt END, ' '
          ORDER BY i), '') AS text
      FROM k GROUP BY 1 ORDER BY doc_id""",

    // Replay of Mojibake.repair over the same seeded + corrupted text:
    // the identical pinned artifact table, chained longest-first.
    "text_fix_encoding" -> s"""
      WITH d AS (SELECT doc_id,
          ${mojiCorruptSql(s"($MojiSeedExpr)")} AS t FROM documents)
      SELECT doc_id, ${mojiRepairSql("t")} AS text,
        coalesce(${mojiRepairSql("t")} <> t, false) AS changed
      FROM d ORDER BY doc_id""",

    // Depth-2 replay: one CTE per repair pass (DuckDB's binder caps
    // expression recursion at 128; the ~105-entry chain nested twice
    // would exceed it in a single expression).
    "text_fix_encoding2" -> s"""
      WITH d AS (SELECT doc_id, ($MojiSeed2Expr) AS t FROM documents),
      r1 AS (SELECT doc_id, t, ${mojiRepairSql("t")} AS t1 FROM d),
      r2 AS (SELECT doc_id, t, ${mojiRepairSql("t1")} AS t2 FROM r1)
      SELECT doc_id, t2 AS text, coalesce(t2 <> t, false) AS changed
      FROM r2 ORDER BY doc_id""",

    // NFC replay: DuckDB's nfc_normalize implements the same UAX #15
    // canonical composition as the JDK Normalizer kernel.
    "text_nfc" -> s"""
      WITH d AS (SELECT doc_id, ($NfcSeedExpr) AS t FROM documents)
      SELECT doc_id, nfc_normalize(t) AS text,
        coalesce(nfc_normalize(t) <> t, false) AS changed
      FROM d ORDER BY doc_id""",

    // Ground truth for Multimodal.validatePayloads: every magic the
    // validator knows is 4 bytes, the corpus is single-byte text, and a
    // rotated actual format never matches the declared magic.
    "multimodal_validate" -> """
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav'
          END AS format,
        (length(text) + 4)::BIGINT AS byte_len,
        (doc_id % 13 <> 0) AS valid
      FROM documents ORDER BY doc_id""",

    // Replay of Maintenance.changedKeys over the derived versions: only
    // o_totalprice can differ, so update <=> the doubled price moved.
    "snapshot_diff" -> """
      WITH prev AS (SELECT o_orderkey, o_totalprice FROM orders
                    WHERE o_orderkey % 7 <> 0),
      nxt AS (SELECT o_orderkey,
                CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT coalesce(p.o_orderkey, n.o_orderkey) AS o_orderkey,
        CASE WHEN p.o_orderkey IS NULL THEN 'insert'
             WHEN n.o_orderkey IS NULL THEN 'delete'
             ELSE 'update' END AS change_type
      FROM prev p FULL OUTER JOIN nxt n ON p.o_orderkey = n.o_orderkey
      WHERE p.o_orderkey IS NULL OR n.o_orderkey IS NULL
         OR p.o_totalprice <> n.o_totalprice
      ORDER BY o_orderkey""",

    // Replay of Profile.correlationMatrix: max-abs scaling, the
    // covariance replay over the 4 scaled measures, then
    // cov/sqrt(var_i*var_j) from the SAME 6dp covariance table.
    "profile_corr_matrix" -> s"""
      WITH mx AS (SELECT max(abs(l_quantity::DOUBLE)) AS m0,
              max(abs(l_extendedprice::DOUBLE)) AS m1,
              max(abs(l_discount::DOUBLE)) AS m2,
              max(abs(l_tax::DOUBLE)) AS m3
            FROM lineitem),
      x AS (SELECT [l_quantity::DOUBLE / mx.m0,
              l_extendedprice::DOUBLE / mx.m1,
              l_discount::DOUBLE / mx.m2,
              l_tax::DOUBLE / mx.m3] AS e
            FROM lineitem CROSS JOIN mx),
      pr AS (SELECT a.i, b.j FROM generate_series(0, 3) a(i),
               generate_series(0, 3) b(j) WHERE a.i <= b.j),
      s AS (SELECT pr.i, pr.j,
              sum(round(e[pr.i+1] * e[pr.j+1]
                * ${Similarity.FixedScale}::DOUBLE))::HUGEINT AS sxy
            FROM x, pr GROUP BY 1, 2),
      m AS (SELECT g.i, sum(round(e[g.i+1]
              * ${Similarity.FixedScale}::DOUBLE))::HUGEINT AS sx
            FROM x, generate_series(0, 3) g(i) GROUP BY 1),
      n AS (SELECT count(*)::BIGINT AS n FROM x),
      cv AS (SELECT s.i, s.j,
               round(sxy::DOUBLE / n.n / ${Similarity.FixedScale}::DOUBLE
                 - (mi.sx::DOUBLE / n.n / ${Similarity.FixedScale}::DOUBLE)
                 * (mj.sx::DOUBLE / n.n / ${Similarity.FixedScale}::DOUBLE),
                 6) + 0.0::DOUBLE AS cov
             FROM s JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j
             CROSS JOIN n),
      dg AS (SELECT i AS d, cov AS v FROM cv WHERE i = j)
      SELECT cv.i::BIGINT AS i, cv.j::BIGINT AS j,
        (CASE WHEN di.v > 0 AND dj.v > 0
          THEN round(cv.cov / sqrt(di.v * dj.v), 6) END)
          + 0.0::DOUBLE AS corr
      FROM cv JOIN dg di ON di.d = cv.i JOIN dg dj ON dj.d = cv.j
      ORDER BY i, j""",

    // Replay of Pca.covariance: per-row HALF_UP quantization at 2^20,
    // exact HUGEINT sums, the same sxy/n/S - mean_i*mean_j double
    // division ORDER, 6dp + negative-zero guard.
    "embed_pca" -> s"""
      WITH pr AS (SELECT a.i AS i, b.j AS j
                  FROM generate_series(0, 63) a(i),
                       generate_series(0, 63) b(j)
                  WHERE a.i <= b.j),
      x AS (SELECT embedding FROM embeddings),
      s AS (SELECT pr.i, pr.j,
              sum(round(embedding[pr.i+1]::DOUBLE * embedding[pr.j+1]::DOUBLE
                * ${Similarity.FixedScale}::DOUBLE))::HUGEINT AS sxy
            FROM x, pr GROUP BY 1, 2),
      m AS (SELECT g.i,
              sum(round(embedding[g.i+1]::DOUBLE
                * ${Similarity.FixedScale}::DOUBLE))::HUGEINT AS sx
            FROM x, generate_series(0, 63) g(i) GROUP BY 1),
      n AS (SELECT count(*)::BIGINT AS n FROM x)
      SELECT s.i::BIGINT AS i, s.j::BIGINT AS j,
        round(sxy::DOUBLE / n.n / ${Similarity.FixedScale}::DOUBLE
          - (mi.sx::DOUBLE / n.n / ${Similarity.FixedScale}::DOUBLE)
          * (mj.sx::DOUBLE / n.n / ${Similarity.FixedScale}::DOUBLE), 6)
          + 0.0::DOUBLE AS cov
      FROM s
      JOIN m mi ON mi.i = s.i
      JOIN m mj ON mj.i = s.j
      CROSS JOIN n
      ORDER BY i, j""",

    // The trained OPQ rotation must satisfy R·Rᵀ = I — stated as the
    // literal identity, independent of how the rotation was computed.
    "pq_opq_rotation" -> """
      SELECT a.i::BIGINT AS i, b.j::BIGINT AS j,
        (CASE WHEN a.i = b.j THEN 1.0 ELSE 0.0 END)::DOUBLE AS v
      FROM generate_series(0, 63) a(i), generate_series(0, 63) b(j)
      ORDER BY i, j""",

    // Plain theta-join ground truth for the bucketed interval overlap
    // (inclusive bounds both sides).
    "interval_join" -> """
      WITH p AS (SELECT user_id, event_id AS p_id, ts AS ps,
                   ts + INTERVAL 30 MINUTE AS pe
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, event_id AS c_id, ts AS cs,
              ts + INTERVAL 10 MINUTE AS ce
            FROM events WHERE event_type = 'click')
      SELECT p.user_id, p.p_id, c.c_id
      FROM p JOIN c ON p.user_id = c.user_id
        AND p.ps <= c.ce AND c.cs <= p.pe
      ORDER BY p.user_id, p.p_id, c.c_id""",

    // Replay of Behavior.debounce: lag over (user, (ts, id)); interval
    // comparison is exact micros on both engines.
    "events_debounce" -> """
      WITH e AS (SELECT event_id, user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS p
                 FROM events)
      SELECT event_id, user_id, ts FROM e
      WHERE p IS NULL OR ts - p >= INTERVAL 10 MINUTE
      ORDER BY event_id""",

    // Replay of the stage_behavior_chain parsed-config pipeline: the
    // debounce window scan, exact fixed-point value sums per surviving
    // user, and the rule-count readout — the three declarative wrappers'
    // math, stated directly.
    "stage_behavior_chain" -> """
      WITH deb AS (
        SELECT event_id, user_id, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p,
          ts
        FROM events),
      kept AS (
        SELECT user_id, round(value * 1048576.0) AS vfp FROM deb
        WHERE p IS NULL OR ts - p >= INTERVAL 10 MINUTE),
      st AS (
        SELECT user_id, count(*)::BIGINT AS n,
          sum(vfp::DECIMAL(38,6)) AS sum_vfp
        FROM kept GROUP BY user_id),
      dq AS (
        SELECT sum(CASE WHEN NOT coalesce(n >= 1, false)
                   THEN 1 ELSE 0 END)::BIGINT AS n_violations,
          count(*)::BIGINT AS n_rows
        FROM st)
      SELECT s.user_id, s.n, s.sum_vfp::DOUBLE / 1048576.0 AS sum_value,
        dq.n_violations, dq.n_rows
      FROM st s CROSS JOIN dq ORDER BY s.user_id""",

    // stage_multimodal: payload = the UTF-8 text bytes, so byte_len and
    // the SHA-256 digest restate directly (the multimodal_meta contract).
    "stage_multimodal" -> """
      SELECT doc_id, length(text)::BIGINT AS byte_len,
        sha256(text) AS digest
      FROM documents ORDER BY doc_id""",

    // Replay of Behavior.throttle: the greedy "keep iff >= gap after the
    // last KEPT" scan is a fold, not a window — list_reduce over the
    // (ts, id)-ordered per-key event list with a 'kept-so-far' string
    // accumulator (last element = last kept). The seed's timestamp is
    // far enough in the past that the first real event always keeps.
    "events_throttle" -> """
      WITH per AS (
        SELECT user_id,
          list(epoch_us(ts)::VARCHAR || ':' || event_id::VARCHAR
            ORDER BY ts, event_id) AS l
        FROM events GROUP BY user_id),
      red AS (
        SELECT user_id, list_reduce(
          list_prepend('-2000000000000000:seed', l),
          (acc, x) -> CASE
            WHEN CAST(split_part(x, ':', 1) AS BIGINT)
               - CAST(split_part(split_part(acc, '|', -1), ':', 1)
                 AS BIGINT) >= 600000000
            THEN acc || '|' || x ELSE acc END) AS kept
        FROM per)
      SELECT user_id, CAST(split_part(u.x, ':', 1) AS BIGINT) AS ts,
        CAST(split_part(u.x, ':', 2) AS BIGINT) AS event_id
      FROM red, unnest(string_split(kept, '|')) u(x)
      WHERE split_part(u.x, ':', 2) != 'seed'
      ORDER BY event_id""",

    // streaming_throttle must equal the BATCH throttle on the same rows
    // (the flatMapGroupsWithState state is exactly the batch scan's loop
    // variable; in-order per-key delivery is pinned by the ts-tercile
    // file split) — the oracle is the events_throttle fold, verbatim.
    "streaming_throttle" -> """
      WITH per AS (
        SELECT user_id,
          list(epoch_us(ts)::VARCHAR || ':' || event_id::VARCHAR
            ORDER BY ts, event_id) AS l
        FROM events GROUP BY user_id),
      red AS (
        SELECT user_id, list_reduce(
          list_prepend('-2000000000000000:seed', l),
          (acc, x) -> CASE
            WHEN CAST(split_part(x, ':', 1) AS BIGINT)
               - CAST(split_part(split_part(acc, '|', -1), ':', 1)
                 AS BIGINT) >= 600000000
            THEN acc || '|' || x ELSE acc END) AS kept
        FROM per)
      SELECT user_id, CAST(split_part(u.x, ':', 1) AS BIGINT) AS ts,
        CAST(split_part(u.x, ':', 2) AS BIGINT) AS event_id
      FROM red, unnest(string_split(kept, '|')) u(x)
      WHERE split_part(u.x, ':', 2) != 'seed'
      ORDER BY event_id""",

    // Replay of Profile.trimmedMean: quantile_cont bounds (== Spark's
    // exact percentile), inclusive band, fixed-point mean in the same
    // division order.
    "robust_mean" -> s"""
      WITH b AS (SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.05) AS lo,
                   quantile_cont(l_extendedprice, 0.95) AS hi
                 FROM lineitem GROUP BY 1)
      SELECT li.l_returnflag, count(*)::BIGINT AS n_kept,
        round(sum(round(l_extendedprice::DOUBLE
            * ${Similarity.FixedScale}::DOUBLE))::HUGEINT::DOUBLE
          / count(*) / ${Similarity.FixedScale}::DOUBLE, 6)
          + 0.0::DOUBLE AS trimmed_mean
      FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag
      WHERE l_extendedprice BETWEEN lo AND hi
      GROUP BY 1 ORDER BY 1""",

    // Replay of DataQuality.reconcile: per-side group states (exact
    // DECIMAL(38,6) sums), full-outer, zero-filled absentees, flags on
    // the decimals, sums surfaced as DOUBLE.
    "dq_reconcile" -> """
      WITH l AS (SELECT o_orderpriority AS k, count(*)::BIGINT AS n,
                   sum(o_totalprice::DECIMAL(38,6)) AS s
                 FROM orders GROUP BY 1),
      r AS (SELECT o_orderpriority AS k, count(*)::BIGINT AS n,
              sum((CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1
                    ELSE o_totalprice END)::DECIMAL(38,6)) AS s
            FROM orders WHERE o_orderkey % 17 <> 0 GROUP BY 1)
      SELECT coalesce(l.k, r.k) AS o_orderpriority,
        coalesce(l.n, 0) AS n_left,
        coalesce(l.s, 0::DECIMAL(38,6))::DOUBLE AS sum_o_totalprice_left,
        coalesce(r.n, 0) AS n_right,
        coalesce(r.s, 0::DECIMAL(38,6))::DOUBLE AS sum_o_totalprice_right,
        (coalesce(l.n, 0) = coalesce(r.n, 0)) AS rows_match,
        (coalesce(l.s, 0::DECIMAL(38,6))
          = coalesce(r.s, 0::DECIMAL(38,6))) AS sums_match
      FROM l FULL OUTER JOIN r ON l.k = r.k
      ORDER BY 1""",

    // Replay of Similarity.embeddingHealth: tiered classification, the
    // sequential-fold norm, fixed-point mean of healthy norms.
    "embed_health" -> s"""
      WITH cls AS (SELECT embedding,
              (embedding IS NULL OR len(embedding) != 64) AS bad,
              len(list_filter(embedding,
                v -> isnan(v::DOUBLE) OR isinf(v::DOUBLE))) > 0 AS nf
            FROM embeddings),
      nr AS (SELECT bad, nf,
               CASE WHEN NOT bad AND NOT nf THEN
                 sqrt(list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, 64),
                     i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
                   (x, y) -> x + y)) END AS nrm
             FROM cls)
      SELECT count(*)::BIGINT AS n_vecs,
        sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
        sum(CASE WHEN NOT bad AND nf THEN 1 ELSE 0 END)::BIGINT
          AS n_nonfinite,
        sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
        CASE WHEN sum(CASE WHEN nrm IS NOT NULL THEN 1 ELSE 0 END) > 0
          THEN round(sum(CASE WHEN nrm IS NOT NULL
              THEN round(nrm * ${Similarity.FixedScale}::DOUBLE)
              ELSE 0 END)::HUGEINT::DOUBLE
            / sum(CASE WHEN nrm IS NOT NULL THEN 1 ELSE 0 END)
            / ${Similarity.FixedScale}::DOUBLE, 6)
        END AS mean_norm
      FROM nr""",

    // Replay of DataQuality.imputeMode: mode per group with ties to the
    // smallest value, nulls repaired, non-null rows untouched.
    "impute_mode" -> """
      WITH li AS (SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
                    l_returnflag,
                    CASE WHEN l_orderkey % 17 = 0 THEN NULL
                      ELSE l_linestatus END AS l_linestatus
                  FROM lineitem),
      cnt AS (SELECT l_returnflag, l_linestatus AS v, count(*) AS n
              FROM li WHERE l_linestatus IS NOT NULL GROUP BY 1, 2),
      md AS (SELECT l_returnflag, v FROM (
               SELECT *, row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY n DESC, v) AS rn
               FROM cnt) WHERE rn = 1)
      SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
        coalesce(li.l_linestatus, md.v) AS l_linestatus
      FROM li LEFT JOIN md ON li.l_returnflag = md.l_returnflag
      ORDER BY l_orderkey, l_linenumber""",

    // Replay of Graph.pagerank (3 iterations, d=0.85): all-long
    // fixed-point ranks; `//` floor division on positive operands matches
    // Spark's exact (a - a%b)/b; the contribution SUM is exact integer
    // arithmetic so shuffle order cannot move a single ulp.
    "pagerank" -> """
      WITH e AS (SELECT DISTINCT 's' || l_suppkey AS src,
              'c' || o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
      nn AS (SELECT COUNT(*) AS n FROM nd),
      r0 AS (SELECT node, 1000000000000 // n AS r FROM nd CROSS JOIN nn),
      c1 AS (SELECT e.dst AS node, SUM((r.r * 850) // (od.od * 1000)) AS cs
             FROM e JOIN od USING (src) JOIN r0 r ON r.node = e.src
             GROUP BY e.dst),
      r1 AS (SELECT r0.node, (r0.r * 150) // 1000 + COALESCE(cs, 0) AS r
             FROM r0 LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, SUM((r.r * 850) // (od.od * 1000)) AS cs
             FROM e JOIN od USING (src) JOIN r1 r ON r.node = e.src
             GROUP BY e.dst),
      r2 AS (SELECT r0.node, (r0.r * 150) // 1000 + COALESCE(cs, 0) AS r
             FROM r0 LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, SUM((r.r * 850) // (od.od * 1000)) AS cs
             FROM e JOIN od USING (src) JOIN r2 r ON r.node = e.src
             GROUP BY e.dst),
      r3 AS (SELECT r0.node, (r0.r * 150) // 1000 + COALESCE(cs, 0) AS r
             FROM r0 LEFT JOIN c3 USING (node))
      SELECT node, r::BIGINT AS rank_fp,
        r::DOUBLE / 1000000000000.0 AS rank
      FROM r3 ORDER BY node""",

    // Replay of Graph.katz (alpha = 30/1000, 3 iterations): the
    // pagerank unrolling without the out-degree dilution — beta = 1
    // re-based each round, per-edge floor-div contributions.
    "graph_katz" -> """
      WITH e AS (SELECT DISTINCT 's' || l_suppkey AS src,
              'c' || o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      k0 AS (SELECT node, 1000000000000::BIGINT AS r FROM nd),
      kc1 AS (SELECT e.dst AS node, SUM((r.r * 30) // 1000) AS cs
             FROM e JOIN k0 r ON r.node = e.src GROUP BY e.dst),
      k1 AS (SELECT nd.node, 1000000000000 + COALESCE(cs, 0) AS r
             FROM nd LEFT JOIN kc1 USING (node)),
      kc2 AS (SELECT e.dst AS node, SUM((r.r * 30) // 1000) AS cs
             FROM e JOIN k1 r ON r.node = e.src GROUP BY e.dst),
      k2 AS (SELECT nd.node, 1000000000000 + COALESCE(cs, 0) AS r
             FROM nd LEFT JOIN kc2 USING (node)),
      kc3 AS (SELECT e.dst AS node, SUM((r.r * 30) // 1000) AS cs
             FROM e JOIN k2 r ON r.node = e.src GROUP BY e.dst),
      k3 AS (SELECT nd.node, 1000000000000 + COALESCE(cs, 0) AS r
             FROM nd LEFT JOIN kc3 USING (node))
      SELECT node, r::BIGINT AS katz_fp,
        r::DOUBLE / 1000000000000.0 AS katz
      FROM k3 ORDER BY node""",

    // Replay of Graph.hits (2 rounds, scale 1e9): L1-normalized
    // fixed-point — every raw pull is a sum of normalized longs (≤
    // scale), the normalization product is ≤ scale² = 1e18 (BIGINT-
    // safe), and `//` floor division on non-negative operands matches
    // IntegralDivide exactly. Authorities pull from the PREVIOUS hubs,
    // hubs from the NEW authorities — the textbook update order.
    "graph_hits" -> """
      WITH e AS (SELECT DISTINCT 's' || l_suppkey AS src,
              'c' || o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT COUNT(*) AS n FROM nd),
      h0 AS (SELECT node, 1000000000 // n AS h FROM nd CROSS JOIN nn),
      ar1 AS (SELECT e.dst AS node, SUM(h.h) AS ar
              FROM e JOIN h0 h ON h.node = e.src GROUP BY e.dst),
      at1 AS (SELECT SUM(ar) AS t FROM ar1),
      a1 AS (SELECT node, (ar * 1000000000) // t AS a
             FROM ar1 CROSS JOIN at1),
      hr1 AS (SELECT e.src AS node, SUM(a.a) AS hr
              FROM e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
      ht1 AS (SELECT SUM(hr) AS t FROM hr1),
      h1 AS (SELECT node, (hr * 1000000000) // t AS h
             FROM hr1 CROSS JOIN ht1),
      ar2 AS (SELECT e.dst AS node, SUM(h.h) AS ar
              FROM e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
      at2 AS (SELECT SUM(ar) AS t FROM ar2),
      a2 AS (SELECT node, (ar * 1000000000) // t AS a
             FROM ar2 CROSS JOIN at2),
      hr2 AS (SELECT e.src AS node, SUM(a.a) AS hr
              FROM e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
      ht2 AS (SELECT SUM(hr) AS t FROM hr2),
      h2 AS (SELECT node, (hr * 1000000000) // t AS h
             FROM hr2 CROSS JOIN ht2)
      SELECT nd.node,
        COALESCE(a2.a, 0)::BIGINT AS auth_fp,
        COALESCE(h2.h, 0)::BIGINT AS hub_fp,
        COALESCE(a2.a, 0)::DOUBLE / 1000000000.0 AS auth,
        COALESCE(h2.h, 0)::DOUBLE / 1000000000.0 AS hub
      FROM nd LEFT JOIN a2 ON nd.node = a2.node
        LEFT JOIN h2 ON nd.node = h2.node
      ORDER BY nd.node""",

    // Replay of TimeSeries.dtw: the ts_acf dense-series CTEs (DOUBLE
    // counts), then the banded DTW DP as an ANTI-DIAGONAL recursion —
    // the recursive CTE state carries diagonals s and s−1 as lists, so
    // every new cell D(i, s+1−i) reads only prior-state cells
    // (D(i−1,j), D(i,j−1) in diag s; D(i−1,j−1) in diag s−1) and needs
    // no intra-step scan. Every cell is |Δ| + least of identical
    // doubles — bit-identical to the kernel's row-major evaluation.
    "ts_dtw" -> s"""
      WITH RECURSIVE c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type, (epoch(g.hour_start)::BIGINT // 3600) AS h,
          coalesce(c.n_events, 0)::DOUBLE AS x
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      ser AS (SELECT event_type, list(x ORDER BY h) AS v
        FROM dense GROUP BY 1),
      dpairs AS (
        SELECT a.event_type AS key_a, bb.event_type AS key_b,
          a.v AS av, bb.v AS bv, len(a.v) AS n, len(bb.v) AS m
        FROM ser a JOIN ser bb ON a.event_type < bb.event_type),
      dp AS (
        SELECT key_a, key_b, av, bv, n, m, 2 AS s,
          NULL::DOUBLE[] AS prev2,
          list_transform(generate_series(1, n), i ->
            CASE WHEN i = 1 THEN abs(av[1] - bv[1]) ELSE NULL END) AS prev
        FROM dpairs
        UNION ALL
        SELECT key_a, key_b, av, bv, n, m, s + 1, prev,
          list_transform(generate_series(1, n), i ->
            CASE WHEN s + 1 - i BETWEEN 1 AND m
                AND abs(2*i - (s+1)) <= $TsDtwBand
              THEN abs(av[i] - bv[s + 1 - i]) + least(
                coalesce(prev[i - 1], 'infinity'::DOUBLE),
                coalesce(prev[i], 'infinity'::DOUBLE),
                coalesce(prev2[i - 1], 'infinity'::DOUBLE))
              ELSE NULL END) AS cur
        FROM dp WHERE s < n + m
      )
      SELECT key_a, key_b, n::BIGINT AS n_a, m::BIGINT AS n_b,
        prev[n] AS dtw
      FROM dp WHERE s = n + m ORDER BY key_a, key_b""",

    // Replay of Profile.bucketizeQuantile: SQL-standard discrete-quantile
    // bounds, bin = 1 + #bounds strictly below the value.
    "bucketize_quantile" -> """
      WITH b AS (SELECT quantile_disc(value, 0.25) AS b0,
              quantile_disc(value, 0.5) AS b1,
              quantile_disc(value, 0.75) AS b2 FROM events),
      x AS (SELECT value,
              1 + (CASE WHEN value > b0 THEN 1 ELSE 0 END
                 + CASE WHEN value > b1 THEN 1 ELSE 0 END
                 + CASE WHEN value > b2 THEN 1 ELSE 0 END) AS bin
            FROM events CROSS JOIN b)
      SELECT bin::BIGINT AS bin, COUNT(*)::BIGINT AS n,
        MIN(value) AS lo, MAX(value) AS hi
      FROM x GROUP BY bin ORDER BY bin""",

    // Replay of Profile.winsorize: clamp into [p05, p95] discrete
    // percentiles — output doubles are bit-copies of inputs or bounds.
    "winsorize" -> """
      WITH b AS (SELECT quantile_disc(value, 0.05) AS lo,
              quantile_disc(value, 0.95) AS hi FROM events)
      SELECT event_id, value,
        least(greatest(value, lo), hi) AS winsorized
      FROM events CROSS JOIN b WHERE event_id < 2000 ORDER BY event_id""",

    // Replay of Sketches.hllDistinct: same h32 buckets, rho = 1 +
    // trailing zeros of the quotient via log2(q & -q) (exact for powers
    // of two in IEEE double), register max per (group, bucket), then the
    // standard HLL estimator with linear-counting correction. The alpha
    // constants are Scala-computed doubles interpolated at full
    // round-trip precision so both engines divide by bit-identical
    // values.
    "sketch_hll" -> s"""
      WITH h AS (
        SELECT l_returnflag,
          ('0x'||substr(md5(l_partkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem),
      r AS (
        SELECT l_returnflag, h % $HllM AS b,
          max(CASE WHEN h // $HllM = 0 THEN ${graft.functions.Sketches.RhoCap}
            ELSE floor(log2(((h // $HllM) & (-(h // $HllM)))::DOUBLE))::BIGINT + 1
            END) AS m
        FROM h GROUP BY 1, 2),
      e AS (
        SELECT l_returnflag, sum(pow(2.0, -m)) AS inv,
          count(*) AS nb
        FROM r GROUP BY 1),
      est AS (
        SELECT l_returnflag,
          (${hllAlphaM2Lit})::DOUBLE / (inv + ($HllM - nb)) AS raw, nb
        FROM e),
      ex AS (
        SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
        FROM lineitem GROUP BY 1)
      SELECT est.l_returnflag, ex.exact_distinct,
        round(CASE WHEN raw <= (${2.5 * HllM})::DOUBLE AND ($HllM - nb) > 0
          THEN ($HllM)::DOUBLE * ln(($HllM)::DOUBLE / ($HllM - nb))
          ELSE raw END, 4) AS hll_estimate
      FROM est JOIN ex USING (l_returnflag)
      ORDER BY l_returnflag""",

    // SEMANTIC oracle: the whole-table sketch in ONE pass — equality with
    // the Spark side's three-shard max-merge IS the mergeability proof.
    "sketch_hll_shards" -> s"""
      WITH h AS (
        SELECT l_returnflag,
          ('0x'||substr(md5(l_partkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem),
      r AS (
        SELECT l_returnflag, h % $HllM AS b,
          max(CASE WHEN h // $HllM = 0 THEN ${graft.functions.Sketches.RhoCap}
            ELSE floor(log2(((h // $HllM) & (-(h // $HllM)))::DOUBLE))::BIGINT + 1
            END) AS m
        FROM h GROUP BY 1, 2),
      e AS (
        SELECT l_returnflag, sum(pow(2.0, -m)) AS inv, count(*) AS nb
        FROM r GROUP BY 1)
      SELECT l_returnflag,
        round(CASE WHEN raw <= (${2.5 * HllM})::DOUBLE AND ($HllM - nb) > 0
          THEN ($HllM)::DOUBLE * ln(($HllM)::DOUBLE / ($HllM - nb))
          ELSE raw END, 4) AS hll_estimate
      FROM (SELECT l_returnflag, nb,
              (${hllAlphaM2Lit})::DOUBLE / (inv + ($HllM - nb)) AS raw
            FROM e)
      ORDER BY l_returnflag""",

    // Replay of Sketches.hllIntersectEstimate: per-side registers, the
    // register-level max-merge for the union, three estimates, then the
    // clamped inclusion-exclusion difference re-rounded to 4dp.
    "sketch_hll_intersect" -> s"""
      WITH ha AS (
        SELECT l_returnflag,
          ('0x'||substr(md5(l_partkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem WHERE l_orderkey % 2 = 0),
      hb AS (
        SELECT l_returnflag,
          ('0x'||substr(md5(l_partkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem WHERE l_orderkey % 3 = 0),
      ${hllRegCte("ha", "ra")},
      ${hllRegCte("hb", "rb")},
      ru AS (
        SELECT l_returnflag, b, max(m) AS m
        FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
        GROUP BY 1, 2),
      ${hllEstCte("ra", "ea")},
      ${hllEstCte("rb", "eb")},
      ${hllEstCte("ru", "eu")}
      SELECT ea.l_returnflag,
        round(greatest(CAST(0 AS DOUBLE), ea.e + eb.e - eu.e), 4) + 0
          AS hll_intersection
      FROM ea JOIN eb USING (l_returnflag) JOIN eu USING (l_returnflag)
      ORDER BY l_returnflag""",

    // Replay of Sketches.kmvJaccard: identical h32 bottom-k sketches of
    // both key sets, bottom-k of the union, match fraction.
    "sketch_kmv_jaccard" -> s"""
      WITH sa AS (
        SELECT DISTINCT ('0x'||substr(md5(o_custkey::VARCHAR),1,8))::BIGINT
          % $P AS h
        FROM orders ORDER BY h LIMIT $KmvJk),
      sb AS (
        SELECT DISTINCT ('0x'||substr(md5(c_custkey::VARCHAR),1,8))::BIGINT
          % $P AS h
        FROM customer ORDER BY h LIMIT $KmvJk),
      u AS (
        SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
        ORDER BY h LIMIT $KmvJk),
      m AS (SELECT count(*)::BIGINT AS n_match FROM u
            WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
      n AS (SELECT count(*)::BIGINT AS n_union FROM u)
      SELECT n_union, n_match,
        round(n_match::DOUBLE / n_union::DOUBLE, 6) AS kmv_jaccard
      FROM m, n""",

    // Replay of Sketches.kmvDifference: same union bottom-k, A-only
    // membership via anti semi-join, (k-1)P/hk union estimate scaled by
    // the A-only fraction.
    "sketch_kmv_diff" -> s"""
      WITH sa AS (
        SELECT DISTINCT ('0x'||substr(md5(o_custkey::VARCHAR),1,8))::BIGINT
          % $P AS h
        FROM orders ORDER BY h LIMIT $KmvJk),
      sb AS (
        SELECT DISTINCT ('0x'||substr(md5(c_custkey::VARCHAR),1,8))::BIGINT
          % $P AS h
        FROM customer WHERE c_custkey % 3 <> 0 ORDER BY h LIMIT $KmvJk),
      u AS (
        SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
        ORDER BY h LIMIT $KmvJk),
      ue AS (SELECT count(*)::BIGINT AS n_union,
               CASE WHEN count(*) < $KmvJk THEN count(*)::DOUBLE
                 ELSE round((${KmvJk - 1})::DOUBLE * $P / max(h), 4)
               END AS kmv_union_estimate
             FROM u),
      oa AS (SELECT count(*)::BIGINT AS n_only_a FROM u
             WHERE h IN (SELECT h FROM sa)
               AND h NOT IN (SELECT h FROM sb))
      SELECT n_union, n_only_a, kmv_union_estimate,
        round(kmv_union_estimate * n_only_a::DOUBLE / n_union::DOUBLE, 4)
          AS kmv_diff_estimate
      FROM ue, oa""",

    // Replay of Sampling.topFractionPerStratum: per-stratum k =
    // ceil(n * 0.2) in DOUBLE (both engines IEEE — a DECIMAL 0.2 would
    // ceil differently at n = 15), rank window, inclusive cut.
    "sample_top_stratum" -> """
      WITH k AS (SELECT lang, ceil(count(*) * 0.2::DOUBLE)::BIGINT AS k
                 FROM documents GROUP BY 1),
      r AS (SELECT doc_id, lang, n_chars,
              row_number() OVER (PARTITION BY lang
                ORDER BY n_chars DESC, doc_id) AS rank
            FROM documents)
      SELECT r.doc_id, r.lang, r.n_chars, r.rank
      FROM r JOIN k ON r.lang = k.lang
      WHERE r.rank <= k.k ORDER BY r.doc_id""",

    // Replay of Sketches.hllRolling: per-day registers over epoch-day
    // buckets (epoch_ms // 86400000 == ts_nanos div 86400e9 for positive
    // ts), each register row exploded to its trailing-window targets,
    // max-merged, estimated, and restricted to buckets present.
    "sketch_hll_rolling" -> s"""
      WITH src AS (
        SELECT epoch_ms(ts) // 86400000 AS bucket,
          ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT % $P AS h
        FROM events),
      ${hllRegCte("src", "r", "bucket")},
      c AS (
        SELECT r.bucket + g AS bucket, b, m
        FROM r CROSS JOIN generate_series(0, ${RollHllWindow - 1}) t(g)),
      mg AS (SELECT bucket, b, max(m) AS m FROM c GROUP BY 1, 2),
      ${hllEstCte("mg", "e", "bucket")}
      SELECT bucket, e AS hll_estimate FROM e
      WHERE bucket IN (SELECT DISTINCT bucket FROM src)
      ORDER BY bucket""",

    // Replay of Sketches.cmsHeavy: one md5 per key, then the MinHash
    // permutation family per CMS row — cell = ((a_r·h + b_r) mod P) mod
    // width; min-over-rows point estimates for the top-N exact keys
    // (count desc, key asc — a total order, so the boundary set is
    // deterministic on both engines).
    "sketch_cms" -> s"""
      WITH h AS (
        SELECT ('0x'||substr(md5(l_suppkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM lineitem),
      cms AS (
        SELECT r,
          ((((r+1)*2654435761) % $P) * h + ((r+1)*40503) % $P)
            % $P % $CmsWidth AS c,
          count(*) AS cnt
        FROM h CROSS JOIN generate_series(0, ${CmsDepth - 1}) t(r)
        GROUP BY 1, 2),
      heavy AS (
        SELECT l_suppkey::VARCHAR AS key, count(*) AS exact_count
        FROM lineitem GROUP BY 1
        ORDER BY exact_count DESC, key LIMIT $CmsTopN),
      probe AS (
        SELECT key, exact_count, r,
          ((((r+1)*2654435761) % $P)
              * (('0x'||substr(md5(key),1,8))::BIGINT % $P)
            + ((r+1)*40503) % $P) % $P % $CmsWidth AS c
        FROM heavy CROSS JOIN generate_series(0, ${CmsDepth - 1}) t(r))
      SELECT key, exact_count, min(cnt) AS cms_estimate
      FROM probe JOIN cms USING (r, c)
      GROUP BY key, exact_count
      ORDER BY exact_count DESC, key""",

    // Replay of Multimodal.phashPairs: the aHash contract over ASCII
    // payload bytes (ord == byte for this corpus — asserted by the
    // attach/encode path), then brute all-pairs Hamming <= 3, which the
    // pigeonhole banding provably equals.
    "multimodal_phash" -> """
      WITH bs AS (
        SELECT doc_id, length(text) AS n,
          list_transform(generate_series(1, length(text)),
            i -> ord(substr(text, i, 1))::BIGINT) AS b
        FROM documents),
      tot AS (
        SELECT doc_id, n, b,
          list_reduce(list_prepend(0::BIGINT, b), (x, y) -> x + y) AS total
        FROM bs),
      ph AS (
        SELECT doc_id,
          list_reduce(list_prepend(0::BIGINT, generate_series(0, 59)),
            (acc, j) -> acc + CASE
              WHEN (n // 60 + CASE WHEN j < n % 60 THEN 1 ELSE 0 END) > 0
               AND list_reduce(list_prepend(0::BIGINT,
                     list_transform(generate_series(j + 1, n, 60), i -> b[i])),
                     (x, y) -> x + y) * n
                   >= total * (n // 60 + CASE WHEN j < n % 60 THEN 1 ELSE 0 END)
              THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS ph
        FROM tot)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        bit_count(xor(a.ph, b.ph))::BIGINT AS hamming
      FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ph, b.ph)) <= 3
      ORDER BY doc_a, doc_b""",

    // Replay of the generic CC: same edges, recursive transitive closure,
    // component = least(node, min reachable) — the dedup_minhash_cc
    // pattern over string-node supplier-customer edges.
    "graph_cc" -> s"""
      WITH RECURSIVE e AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= $CcQtyMin
      ), bidir AS (
        SELECT src, dst FROM e UNION SELECT dst, src FROM e
      ), reach AS (
        SELECT src, dst FROM bidir
        UNION
        SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src
      )
      SELECT src AS node, least(src, min(dst)) AS component
      FROM reach GROUP BY src ORDER BY node""",

    // INDEPENDENT statement of SCC semantics: transitive closure by
    // recursive CTE, scc(v) = least(v, min mutually-reachable partner) —
    // no coloring, no trimming, no peeling; pure mutual reachability.
    "graph_scc" -> s"""
      WITH RECURSIVE fwd AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= $SccQtyHi
      ), bwd AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity <= $SccQtyLo
      ), e AS (SELECT * FROM fwd UNION SELECT * FROM bwd),
      reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      mutual AS (
        SELECT a.src AS v, a.dst AS u FROM reach a JOIN reach b
          ON a.src = b.dst AND a.dst = b.src)
      SELECT node, least(node, coalesce(min(u), node)) AS scc
      FROM nodes LEFT JOIN mutual ON node = v
      GROUP BY node ORDER BY node""",

    // INDEPENDENT statement of condensation layering: SCC labels by
    // mutual reachability (as graph_scc), cross-component edges, then
    // layer(c) = longest path reaching c — a recursive UNION over
    // (component, depth) STATES (bounded by comps × depth; the DAG
    // guarantees termination), max depth per component.
    "graph_topo_layers" -> s"""
      WITH RECURSIVE fwd AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= $SccQtyHi
      ), bwd AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity <= $SccQtyLo
      ), e AS (SELECT * FROM fwd UNION SELECT * FROM bwd),
      reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      mutual AS (
        SELECT a.src AS v, a.dst AS u FROM reach a JOIN reach b
          ON a.src = b.dst AND a.dst = b.src),
      lab AS (
        SELECT node, least(node, coalesce(min(u), node)) AS scc
        FROM nodes LEFT JOIN mutual ON node = v GROUP BY node),
      ce AS (
        SELECT DISTINCT la.scc AS ca, lb.scc AS cb
        FROM e JOIN lab la ON e.src = la.node
        JOIN lab lb ON e.dst = lb.node
        WHERE la.scc != lb.scc),
      states AS (
        SELECT scc AS c, 0::BIGINT AS layer FROM (SELECT DISTINCT scc FROM lab)
        UNION
        SELECT ce.cb, s.layer + 1 FROM states s JOIN ce ON ce.ca = s.c)
      SELECT l.scc, count(*)::BIGINT AS n_nodes,
        (SELECT max(layer) FROM states WHERE c = l.scc) AS layer
      FROM lab l GROUP BY l.scc ORDER BY l.scc""",

    // Replay of Behavior.basketPairs over distinct (order, supplier)
    // memberships; lift in the identical operand order.
    "basket_pairs" -> s"""
      WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem),
      pairs AS (
        SELECT x.i AS item_a, y.i AS item_b, count(*)::BIGINT AS n_pairs
        FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport),
      sup AS (SELECT i, count(*)::BIGINT AS n_i FROM bi GROUP BY 1),
      tot AS (SELECT count(DISTINCT b)::BIGINT AS n_baskets FROM bi)
      SELECT item_a, item_b, n_pairs,
        (round(n_pairs::DOUBLE * n_baskets
          / (a.n_i::DOUBLE * c.n_i), 6) + 0) AS lift
      FROM pairs
      JOIN sup a ON a.i = pairs.item_a
      JOIN sup c ON c.i = pairs.item_b, tot
      ORDER BY item_a, item_b""",

    // Replay of Sketches.cmsJoinSize: both CMS tables (same md5 + mod-P
    // universal hashes as sketch_cms), per-row inner product, min over
    // rows; exact = Σ cA(k)·cB(k) over the joined key-count tables.
    "sketch_join_size" -> s"""
      WITH ca AS (
        SELECT ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT % $P AS h
        FROM events),
      cmsa AS (
        SELECT r,
          ((((r+1)*2654435761) % $P) * h + ((r+1)*40503) % $P)
            % $P % $JsWidth AS c,
          count(*)::BIGINT AS cnt
        FROM ca CROSS JOIN generate_series(0, ${CmsDepth - 1}) t(r)
        GROUP BY 1, 2),
      cb AS (
        SELECT ('0x'||substr(md5(o_custkey::VARCHAR),1,8))::BIGINT % $P AS h
        FROM orders),
      cmsb AS (
        SELECT r,
          ((((r+1)*2654435761) % $P) * h + ((r+1)*40503) % $P)
            % $P % $JsWidth AS c,
          count(*)::BIGINT AS cnt
        FROM cb CROSS JOIN generate_series(0, ${CmsDepth - 1}) t(r)
        GROUP BY 1, 2),
      est AS (
        SELECT min(ip)::BIGINT AS cms_estimate FROM (
          SELECT a.r, sum(a.cnt * b.cnt) AS ip
          FROM cmsa a JOIN cmsb b ON a.r = b.r AND a.c = b.c
          GROUP BY a.r)),
      exact AS (
        SELECT coalesce(sum(ca * cb), 0)::BIGINT AS exact_pairs FROM (
          SELECT user_id::VARCHAR AS k, count(*)::BIGINT AS ca
          FROM events GROUP BY 1) x
        JOIN (
          SELECT o_custkey::VARCHAR AS k, count(*)::BIGINT AS cb
          FROM orders GROUP BY 1) y USING (k))
      SELECT exact_pairs, cms_estimate,
        ${CmsDepth}::BIGINT AS depth, ${JsWidth}::BIGINT AS width
      FROM exact, est""",

    // Replay of Layout.zorderManifest: the identical 2x16-term Morton
    // interleave expression (generated from the same bit positions), a
    // total (z, id) order, fixed-size blocks, per-block min-max.
    "zorder_layout" -> s"""
      WITH base AS (
        SELECT l_partkey AS x, l_suppkey AS y,
          l_orderkey * 10000 + l_linenumber AS id
        FROM lineitem),
      z AS (SELECT x, y, id, ${zorderSqlExpr("x", "y", ZBits)} AS z FROM base),
      rn AS (
        SELECT x, y, row_number() OVER (ORDER BY z, id) - 1 AS rn FROM z)
      SELECT rn // $ZBlock AS block_id, count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y
      FROM rn GROUP BY 1 ORDER BY 1""",

    // Replay of Layout.hilbertManifest: one CTE per curve level (the
    // hilbert2 kernel's loop unrolled into SQL), then the same
    // row_number block carve as zorder_layout.
    "hilbert_layout" -> s"""
      WITH hbase AS (
        SELECT l_partkey AS x, l_suppkey AS y,
          l_orderkey * 10000 + l_linenumber AS id
        FROM lineitem),
      ${hilbertCtes(ZBits)},
      rn AS (
        SELECT x, y, row_number() OVER (ORDER BY d, id) - 1 AS rn
        FROM h$ZBits)
      SELECT rn // $ZBlock AS block_id, count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y
      FROM rn GROUP BY 1 ORDER BY 1""",

    // Replay of Layout.hilbertManifestN k=3: Skilling's transpose as one
    // CTE per sequential step, then the usual row_number block carve.
    "hilbert_layout3" -> s"""
      WITH hbase AS (
        SELECT (l_partkey & 63) AS x, (l_suppkey & 63) AS y,
          (CAST(l_quantity AS BIGINT) & 63) AS q,
          l_orderkey * 10000 + l_linenumber AS id
        FROM lineitem),
      hn0 AS (SELECT x, y, q, id, x AS x0, y AS x1, q AS x2 FROM hbase)
      ${hilbertNCtes(HilbertNBits, 3, "x, y, q, id")},
      rn AS (
        SELECT x, y, q, row_number() OVER (
          ORDER BY ${hilbertNInterleave(HilbertNBits, 3)}, id) - 1 AS rn
        FROM hnfin)
      SELECT rn // $ZBlock AS block_id, count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y,
        min(q) AS min_q, max(q) AS max_q
      FROM rn GROUP BY 1 ORDER BY 1""",

    // Replay of Layout.zorderManifestN with k=3: the identical
    // 3x16-term interleave (l_quantity is integral 1..50, so the
    // double->BIGINT cast agrees between engines' truncate-vs-round).
    "zorder_layout3" -> s"""
      WITH base AS (
        SELECT l_partkey AS x, l_suppkey AS y,
          CAST(l_quantity AS BIGINT) AS q,
          l_orderkey * 10000 + l_linenumber AS id
        FROM lineitem),
      z AS (SELECT x, y, q, id,
        ${zorderSqlExprN(Seq("x", "y", "q"), ZBits)} AS z FROM base),
      rn AS (
        SELECT x, y, q, row_number() OVER (ORDER BY z, id) - 1 AS rn FROM z)
      SELECT rn // $ZBlock AS block_id, count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y,
        min(q) AS min_q, max(q) AS max_q
      FROM rn GROUP BY 1 ORDER BY 1""",

    // stage_zorder3 runs the SAME N-column layout through the parsed
    // ZorderTransform config — the zorder_layout3 oracle, verbatim.
    "stage_zorder3" -> s"""
      WITH base AS (
        SELECT l_partkey AS x, l_suppkey AS y,
          CAST(l_quantity AS BIGINT) AS q,
          l_orderkey * 10000 + l_linenumber AS id
        FROM lineitem),
      z AS (SELECT x, y, q, id,
        ${zorderSqlExprN(Seq("x", "y", "q"), ZBits)} AS z FROM base),
      rn AS (
        SELECT x, y, q, row_number() OVER (ORDER BY z, id) - 1 AS rn FROM z)
      SELECT rn // $ZBlock AS block_id, count(*) AS n_rows,
        min(x) AS min_x, max(x) AS max_x,
        min(y) AS min_y, max(y) AS max_y,
        min(q) AS min_q, max(q) AS max_q
      FROM rn GROUP BY 1 ORDER BY 1""",

    // SEMANTIC oracle: min-max block skipping is conservative, so the
    // manifest-pruned range query equals a direct filter of the raw rows.
    "zorder_prune" -> s"""
      SELECT l_partkey AS x, l_suppkey AS y,
        l_orderkey * 10000 + l_linenumber AS id
      FROM lineitem
      WHERE l_partkey BETWEEN $ZPruneXLo AND $ZPruneXHi
        AND l_suppkey BETWEEN $ZPruneYLo AND $ZPruneYHi
      ORDER BY id, x, y""",

    // Semantic oracle for the targeted delete: pruned block rewrites
    // must be INVISIBLE — the surviving store reads exactly like the
    // raw table minus the deleted id set (same pinned id rule).
    "maintenance_delete" -> """
      SELECT l_partkey AS x, l_suppkey AS y,
        l_orderkey * 10000 + l_linenumber AS id
      FROM lineitem
      WHERE NOT (l_linenumber = 1 AND l_orderkey % 97 = 0)
      ORDER BY id, x, y""",

    // Same raw-filter-oracle principle: bloom skipping must be
    // invisible - the result equals a plain IN filter on the raw table.
    "zorder_prune_bloom" -> s"""
      SELECT l_partkey AS x, l_suppkey AS y,
        l_orderkey * 10000 + l_linenumber AS id
      FROM lineitem
      WHERE l_orderkey * 10000 + l_linenumber
        IN (${ZBloomProbeIds.mkString(", ")})
      ORDER BY id, x, y""",

    // Same raw-filter oracle as zorder_prune: pruning must be invisible.
    "hilbert_prune" -> s"""
      SELECT l_partkey AS x, l_suppkey AS y,
        l_orderkey * 10000 + l_linenumber AS id
      FROM lineitem
      WHERE l_partkey BETWEEN $ZPruneXLo AND $ZPruneXHi
        AND l_suppkey BETWEEN $ZPruneYLo AND $ZPruneYHi
      ORDER BY id, x, y""",

    // SEMANTIC oracle (not a replay): the expected post-merge snapshot
    // stated directly — updates via CASE, deletes via WHERE, inserts via
    // UNION ALL. Any divergence in the window/tie logic of Cdc.upsert
    // shows up as a row diff here.
    "merge_upsert" -> """
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 20 = 0)
      SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
          ELSE o_totalprice END AS o_totalprice,
        o_orderstatus
      FROM base WHERE o_orderkey % 100 <> 40
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, o_totalprice, o_orderstatus
      FROM base WHERE o_orderkey % 100 = 60
      ORDER BY o_orderkey""",

    // Replay of Cdc.scd2 (islands): lag marks state changes, a running
    // sum numbers the runs, min(ts) opens each span, lead closes it.
    // ts::TIMESTAMP lands on the same MICRO precision as the normalized
    // Tables.events read (ns generations truncate identically on both
    // engines); (ts, event_type) and (valid_from, event_type) orders are
    // total, so ties replay.
    "scd2_history" -> """
      WITH e AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events),
      chg AS (
        SELECT user_id, ts, event_type,
          CASE WHEN lag(event_type) OVER w IS NULL
            OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS c
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
      runs AS (
        SELECT *, sum(c) OVER (PARTITION BY user_id
          ORDER BY ts, event_type ROWS UNBOUNDED PRECEDING) AS run
        FROM chg),
      spans AS (
        SELECT user_id, run, min(ts) AS valid_from,
          min(event_type) AS event_type
        FROM runs GROUP BY 1, 2)
      SELECT user_id, event_type, valid_from,
        lead(valid_from) OVER w2 AS valid_to,
        lead(valid_from) OVER w2 IS NULL AS is_current
      FROM spans
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_type)
      ORDER BY user_id, valid_from, event_type""",

    // Replay of Similarity.projectSigned: the sign matrix re-derives
    // from the same md5 draw h32("i_j") % 2, sums run over the identical
    // x2^20 fixed-point longs (order-free), same /2^20/sqrt(outDim)
    // scaling and 6dp rounding.
    "embed_project" -> s"""
      WITH s AS (
        SELECT i, j,
          CASE WHEN ('0x'||substr(md5(i::VARCHAR||'_'||j::VARCHAR),1,8))::BIGINT
            % $P % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM generate_series(0, ${ProjIn - 1}) a(i)
        CROSS JOIN generate_series(0, ${ProjOut - 1}) b(j)),
      x AS (
        SELECT vec_id, d - 1 AS i,
          round(embedding[d]::DOUBLE * 1048576.0)::BIGINT AS f
        FROM embeddings CROSS JOIN generate_series(1, $ProjIn) t(d)
        WHERE len(embedding) = $ProjIn)
      SELECT vec_id, j,
        round(sum(f * sgn)::DOUBLE / 1048576.0
          / (${math.sqrt(ProjOut.toDouble)})::DOUBLE, 6) + 0.0 AS z
      FROM x JOIN s USING (i)
      GROUP BY vec_id, j ORDER BY vec_id, j""",

    // Replay of Profile.outliersMad: discrete medians (quantile_disc ==
    // percentile_disc under the shared cume_dist >= p definition), MAD of
    // absolute deviations, modified z-score 0.6745*(v - med)/MAD at 6dp,
    // flag on the ROUNDED score both sides.
    "outliers_mad" -> s"""
      WITH med AS (
        SELECT event_type, quantile_disc(value, 0.5) AS med
        FROM events GROUP BY 1),
      d AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
          abs(e.value - m.med) AS dev
        FROM events e JOIN med m USING (event_type)),
      mad AS (
        SELECT event_type, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY 1),
      scored AS (
        SELECT event_id, d.event_type, value,
          round(0.6745 * (value - med) / mad, 6) + 0.0 AS robust_z, mad
        FROM d JOIN mad USING (event_type))
      SELECT event_id, event_type, value, robust_z
      FROM scored WHERE mad > 0 AND abs(robust_z) > $MadK
      ORDER BY event_id""",

    // Replay of TimeSeries.rolling: trailing RANGE frame over epoch-us
    // longs per user; the sum accumulates in DECIMAL (order-free, exact)
    // and surfaces as DOUBLE on both engines.
    "events_rolling" -> s"""
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        count(*) OVER w AS n_window,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          AS sum_window
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN ${RollWindowSec * 1000000L} PRECEDING
          AND CURRENT ROW)
      ORDER BY event_id""",

    // Replay of TimeSeries.rollingMedian: quantile_disc over the same
    // 5-row trailing frame picks the identical lower-middle data value.
    // count(value) not count(*): the operator's frame is the non-null
    // OBSERVATIONS in the trailing k rows (collect_list skips NULLs,
    // and quantile_disc ignores them on this side) — counting all rows
    // would diverge the moment valueCol carries a NULL.
    "events_rolling_median" -> """
      SELECT event_id, user_id,
        count(value) OVER w AS n_frame,
        quantile_disc(value, 0.5) OVER w AS rolling_median
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""",

    // Replay of TimeSeries.ewma: the recursive per-key recurrence under
    // (ts, id) order; alpha = $EwmaAlpha and 1 - alpha are exact binary
    // literals and the emitted state is the RAW double (see the operator
    // scaladoc: rounding would break equality at the mid-point decimals
    // a binary-fraction state lands on).
    "events_ewma" -> s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
      rec AS (
        SELECT user_id, rn, event_id, ts_us, CAST(value AS DOUBLE) AS s
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.event_id, e.ts_us,
          CAST($EwmaAlpha AS DOUBLE) * e.value
            + CAST(${1 - EwmaAlpha} AS DOUBLE) * r.s
        FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, ts_us, s AS ewma FROM rec
      ORDER BY event_id""",

    // Replay of TimeSeries.holt: the events_ewma recursion carrying TWO
    // state doubles (level s, trend b). The recursive arm writes s_t's
    // expression TWICE (once as the new s, once inside b_t) — textually
    // identical, so both engines evaluate the same IEEE sequence and the
    // states stay bit-equal without rounding. alpha/beta and their
    // complements are exact binary fractions.
    "events_holt" -> s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          CAST(value AS DOUBLE) AS v,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
      rec AS (
        SELECT user_id, rn, event_id, ts_us, v AS s, CAST(0 AS DOUBLE) AS b
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.event_id, e.ts_us,
          CAST($HoltAlpha AS DOUBLE) * e.v
            + CAST(${1 - HoltAlpha} AS DOUBLE) * (r.s + r.b),
          CAST($HoltBeta AS DOUBLE)
            * ((CAST($HoltAlpha AS DOUBLE) * e.v
                + CAST(${1 - HoltAlpha} AS DOUBLE) * (r.s + r.b)) - r.s)
            + CAST(${1 - HoltBeta} AS DOUBLE) * r.b
        FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, ts_us, s AS level, b AS trend,
        s + b AS forecast
      FROM rec ORDER BY event_id""",

    // Replay of Cdc.derive over the same deterministic next-snapshot
    // construction: full outer join on the key, row classify by null
    // side / IS DISTINCT FROM, D rows carry old data, I/U rows new.
    "cdc_derive" -> """
      WITH p AS (
        SELECT p_partkey, p_name, p_retailprice FROM part),
      nxt AS (
        SELECT p_partkey, p_name,
          CASE WHEN p_partkey % 5 = 0 THEN p_retailprice * 2
               ELSE p_retailprice END AS p_retailprice
        FROM p WHERE p_partkey % 7 <> 0
        UNION ALL
        SELECT p_partkey + 10000000, p_name, p_retailprice
        FROM p WHERE p_partkey % 11 = 0),
      d AS (
        SELECT o.p_partkey AS ko, n.p_partkey AS kn,
          o.p_name AS o_name, o.p_retailprice AS o_price,
          n.p_name AS n_name, n.p_retailprice AS n_price
        FROM p o FULL OUTER JOIN nxt n ON o.p_partkey = n.p_partkey)
      SELECT coalesce(kn, ko) AS p_partkey,
        CASE WHEN kn IS NULL THEN o_name ELSE n_name END AS p_name,
        CASE WHEN kn IS NULL THEN o_price ELSE n_price END AS p_retailprice,
        CASE WHEN ko IS NULL THEN 'I'
             WHEN kn IS NULL THEN 'D'
             ELSE 'U' END AS op
      FROM d
      WHERE ko IS NULL OR kn IS NULL
         OR o_name IS DISTINCT FROM n_name
         OR o_price IS DISTINCT FROM n_price
      ORDER BY p_partkey""",

    // Replay of TextAnalysis.blocklist: whole-word IN over the exploded
    // whitespace words, per-doc counts + the sorted matched-term string.
    "text_blocklist" -> s"""
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      h AS (
        SELECT doc_id, w FROM w
        WHERE w IN (${BlockTerms.map(t => s"'$t'").mkString(", ")}))
      SELECT doc_id, count(*)::BIGINT AS n_hits,
        count(DISTINCT w)::BIGINT AS n_terms,
        array_to_string(list_sort(list(DISTINCT w)), ',') AS terms
      FROM h GROUP BY doc_id ORDER BY doc_id""",

    // Grouping-sets parity: Spark's grouping_id() and DuckDB's
    // GROUPING(a, b) share the first-arg-is-MSB convention (verified);
    // sums go through exact DECIMAL before the double cast.
    "cube_agg" -> """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag, l_linestatus""",

    // Replay of TimeSeries.gapfillHourly: sparse hourly counts, global
    // bounds, dense key x hour grid via generate_series, zero-filled
    // left join. time_bucket::TIMESTAMP == Spark's date_trunc('hour')
    // on the us-truncated ts (the events_hourly precedent).
    "events_gapfill" -> """
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b)
      SELECT g.event_type, g.hour_start,
        coalesce(c.n_events, 0) AS n_events
      FROM g LEFT JOIN c USING (event_type, hour_start)
      ORDER BY event_type, hour_start""",

    // Replay of TimeSeries.seasonalDeviation: the gapfill grid, the
    // per-(key, hour-of-day) mean as one exact division, ratio at 6dp.
    "events_seasonal" -> s"""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type, g.hour_start,
          coalesce(c.n_events, 0)::BIGINT AS n_events,
          CAST(extract(hour FROM g.hour_start) AS BIGINT) AS hod
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      base AS (
        SELECT event_type, hod,
          sum(n_events)::DOUBLE / count(*) AS hod_mean
        FROM dense GROUP BY 1, 2)
      SELECT d.event_type, d.hour_start, d.hod, d.n_events, base.hod_mean,
        (round(CASE WHEN base.hod_mean > 0
            THEN d.n_events::DOUBLE / base.hod_mean
            ELSE CASE WHEN d.n_events > 0 THEN ${SeasonalHi + 1} ELSE 1.0 END
          END, 6) + 0) AS ratio,
        (round(CASE WHEN base.hod_mean > 0
            THEN d.n_events::DOUBLE / base.hod_mean
            ELSE CASE WHEN d.n_events > 0 THEN ${SeasonalHi + 1} ELSE 1.0 END
          END, 6) + 0) < $SeasonalLo
        OR (round(CASE WHEN base.hod_mean > 0
            THEN d.n_events::DOUBLE / base.hod_mean
            ELSE CASE WHEN d.n_events > 0 THEN ${SeasonalHi + 1} ELSE 1.0 END
          END, 6) + 0) > $SeasonalHi AS anomalous
      FROM dense d JOIN base USING (event_type, hod)
      ORDER BY event_type, hour_start""",

    // Replay of TimeSeries.seasonalDeviationWeekly: the gapfill grid,
    // how = dow*24 + hour (DuckDB dow Sunday=0 == Spark dayofweek−1),
    // per-(key, how) mean as one exact division, ratio at 6dp.
    "events_seasonal_weekly" -> s"""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type, g.hour_start,
          coalesce(c.n_events, 0)::BIGINT AS n_events,
          CAST(extract(dow FROM g.hour_start) * 24
            + extract(hour FROM g.hour_start) AS BIGINT) AS how
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      base AS (
        SELECT event_type, how,
          sum(n_events)::DOUBLE / count(*) AS how_mean
        FROM dense GROUP BY 1, 2)
      SELECT d.event_type, d.hour_start, d.how, d.n_events, base.how_mean,
        (round(CASE WHEN base.how_mean > 0
            THEN d.n_events::DOUBLE / base.how_mean
            ELSE CASE WHEN d.n_events > 0 THEN ${SeasonalHi + 1} ELSE 1.0 END
          END, 6) + 0) AS ratio,
        (round(CASE WHEN base.how_mean > 0
            THEN d.n_events::DOUBLE / base.how_mean
            ELSE CASE WHEN d.n_events > 0 THEN ${SeasonalHi + 1} ELSE 1.0 END
          END, 6) + 0) < $SeasonalLo
        OR (round(CASE WHEN base.how_mean > 0
            THEN d.n_events::DOUBLE / base.how_mean
            ELSE CASE WHEN d.n_events > 0 THEN ${SeasonalHi + 1} ELSE 1.0 END
          END, 6) + 0) > $SeasonalHi AS anomalous
      FROM dense d JOIN base USING (event_type, how)
      ORDER BY event_type, hour_start""",

    // Replay of TimeSeries.seasonalAnomalyWeekly: the 168-cell weekly
    // baseline, 6dp-snapped residuals, then the per-key discrete
    // median/MAD modified-z chain on the residuals.
    "events_anomaly_weekly" -> s"""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      g AS (
        SELECT event_type,
          unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
        FROM k CROSS JOIN b),
      dense AS (
        SELECT g.event_type, g.hour_start,
          coalesce(c.n_events, 0)::BIGINT AS n_events,
          CAST(extract(dow FROM g.hour_start) * 24
            + extract(hour FROM g.hour_start) AS BIGINT) AS how
        FROM g LEFT JOIN c USING (event_type, hour_start)),
      base AS (
        SELECT event_type, how,
          sum(n_events)::DOUBLE / count(*) AS how_mean
        FROM dense GROUP BY 1, 2),
      r AS (
        SELECT d.event_type, d.hour_start, d.how, d.n_events,
          base.how_mean,
          (round(d.n_events::DOUBLE - base.how_mean, 6) + 0.0) AS resid
        FROM dense d JOIN base USING (event_type, how)),
      med AS (
        SELECT event_type, quantile_disc(resid, 0.5) AS med
        FROM r GROUP BY 1),
      dd AS (
        SELECT r.*, med, abs(resid - med) AS dev
        FROM r JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, quantile_disc(dev, 0.5) AS mad
        FROM dd GROUP BY 1),
      scored AS (
        SELECT event_type, hour_start, how, n_events, how_mean, resid,
          mad,
          (round(CASE WHEN mad > 0
            THEN 0.6745 * (resid - med) / mad
            ELSE 0.0 END, 6) + 0.0) AS robust_z
        FROM dd JOIN mad USING (event_type))
      SELECT event_type, hour_start, how, n_events, how_mean, resid,
        robust_z
      FROM scored WHERE mad > 0 AND abs(robust_z) > $AnomWeeklyK
      ORDER BY event_type, hour_start""",

    // Replay of the gapfill |> outliersMad chain: dense counts first,
    // then discrete median/MAD and the modified z-score on them.
    "events_anomaly" -> s"""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS hour_start,
          event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM c),
      k AS (SELECT DISTINCT event_type FROM events),
      dense AS (
        SELECT g.event_type, g.hour_start,
          coalesce(c.n_events, 0) AS n_events
        FROM (SELECT event_type,
                unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_start
              FROM k CROSS JOIN b) g
        LEFT JOIN c USING (event_type, hour_start)),
      med AS (
        SELECT event_type, quantile_disc(n_events::DOUBLE, 0.5) AS med
        FROM dense GROUP BY 1),
      d AS (
        SELECT dense.*, med,
          abs(n_events::DOUBLE - med) AS dev
        FROM dense JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY 1),
      scored AS (
        SELECT event_type, hour_start, n_events, mad,
          round(0.6745 * (n_events::DOUBLE - med) / mad, 6) + 0.0 AS robust_z
        FROM d JOIN mad USING (event_type))
      SELECT event_type, hour_start, n_events, robust_z
      FROM scored WHERE mad > 0 AND abs(robust_z) > $AnomK
      ORDER BY event_type, hour_start""",

    // Replay of Profile.correlation: identical x2^20 fixed-point
    // DECIMAL(38,0) sufficient statistics, identical double formula tree.
    "profile_corr" -> """
      WITH st AS (
        SELECT l_returnflag,
          SUM(CAST(round(l_quantity * 1048576.0) AS DECIMAL(38,0))) AS sx,
          SUM(CAST(round(l_extendedprice * 1048576.0) AS DECIMAL(38,0))) AS sy,
          SUM(CAST(round(l_quantity * l_quantity * 1048576.0) AS DECIMAL(38,0))) AS sxx,
          SUM(CAST(round(l_extendedprice * l_extendedprice * 1048576.0) AS DECIMAL(38,0))) AS syy,
          SUM(CAST(round(l_quantity * l_extendedprice * 1048576.0) AS DECIMAL(38,0))) AS sxy,
          COUNT(*) AS n
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY 1)
      SELECT l_returnflag, n,
        round(CASE WHEN den > 0 THEN num / den ELSE 0 END, 6) + 0.0 AS corr
      FROM (
        SELECT l_returnflag, n,
          n::DOUBLE * (sxy::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0) AS num,
          sqrt(greatest(n::DOUBLE * (sxx::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0), 0))
          * sqrt(greatest(n::DOUBLE * (syy::DOUBLE / 1048576.0)
            - (sy::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0), 0)) AS den
        FROM st)
      ORDER BY l_returnflag""",

    // Replay of Sampling.negativeSample: bucket representatives from the
    // same h32(doc_id) draw, per-(anchor, i) bucket pick, self-hits drop.
    "negative_sample" -> s"""
      WITH reps AS (
        SELECT ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT
            % $P % $NegBuckets AS b,
          min(doc_id) AS neg_id
        FROM documents GROUP BY 1),
      a AS (
        SELECT doc_id AS anchor_id, i
        FROM documents CROSS JOIN generate_series(0, ${NegK - 1}) t(i))
      SELECT anchor_id, i, neg_id
      FROM a JOIN reps
        ON reps.b = ('0x'||substr(md5(anchor_id::VARCHAR||'#'||i::VARCHAR),1,8))::BIGINT
          % $P % $NegBuckets
      WHERE neg_id <> anchor_id
      ORDER BY anchor_id, i""",

    // SEMANTIC oracle: streaming first-seen-wins dedup projected to its
    // keys == batch DISTINCT, regardless of micro-batch arrival order.
    "streaming_dedup" -> """
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""",

    // Replay of the stream-stream attribution join as a batch range
    // self-join. Bounds compare MICROSECOND longs — the precision both
    // engines land on after the normalized read (a ns-generation file
    // truncates ns -> us identically on both sides, so no pair can flip
    // within 1000 ns of the horizon).
    "streaming_join" -> """
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        epoch_us(c.ts) AS click_ts_us, epoch_us(p.ts) AS purchase_ts_us
      FROM events c JOIN events p ON c.user_id = p.user_id
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.user_id % 5 = 0
        AND epoch_us(p.ts) >= epoch_us(c.ts)
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      ORDER BY click_id, purchase_id""",

    // Replay of the stream-static enrichment rollup: every event carries
    // its user's segment exactly once in the sink, so the per-segment
    // aggregate equals the plain batch aggregate.
    "streaming_enrich" -> """
      SELECT user_id % 7 AS segment, count(*)::BIGINT AS n_events,
        count(DISTINCT user_id)::BIGINT AS n_users
      FROM events GROUP BY 1 ORDER BY segment""",

    // SEMANTIC oracle: the final cumulative mapGroupsWithState emission
    // per key equals the key's total event count, however the stream was
    // micro-batched.
    "streaming_state" -> """
      SELECT user_id, count(*) AS n_events FROM events
      GROUP BY user_id ORDER BY user_id""",

    // Replay of session_window as lag+cumsum islands. Gap comparison in
    // MICROSECONDS (epoch_us) — the precision session_window sees; only
    // the reported session start rounds to ms (floor, both engines).
    "streaming_session" -> """
      WITH gaps AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
          CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
          THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      runs AS (
        SELECT user_id, us,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM gaps)
      SELECT user_id, min(us) // 1000 AS session_start_ms,
        count(*) AS n_events
      FROM runs GROUP BY user_id, sid
      ORDER BY user_id, session_start_ms""",

    // Replay of Behavior.funnel: min-timestamp chaining — step i is the
    // earliest step-i event STRICTLY AFTER the user's step-(i-1) reach
    // time. Ratios are single long/long double divisions (order-free).
    "events_funnel" -> s"""
      WITH s1 AS (
        SELECT user_id, min(ts) AS r FROM events
        WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(e.ts) AS r FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.r
        GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(e.ts) AS r FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.r
        GROUP BY 1),
      n AS (
        SELECT 1 AS step_idx, '${FunnelSteps(0)}' AS step_name,
          count(*) AS n_users FROM s1
        UNION ALL SELECT 2, '${FunnelSteps(1)}', count(*) FROM s2
        UNION ALL SELECT 3, '${FunnelSteps(2)}', count(*) FROM s3)
      SELECT step_idx, step_name, n_users,
        CASE WHEN n_users = 0 THEN CAST(0.0 AS DOUBLE)
          ELSE coalesce(CAST(n_users AS DOUBLE)
            / lag(n_users) OVER (ORDER BY step_idx), 1.0) END
          AS conv_from_prev,
        CASE WHEN n_users = 0 THEN CAST(0.0 AS DOUBLE)
          ELSE CAST(n_users AS DOUBLE)
            / first_value(n_users) OVER (ORDER BY step_idx) END
          AS conv_from_first
      FROM n ORDER BY step_idx""",

    // Replay of Behavior.cohortRetention: both engines truncate weeks to
    // Monday, so the day-diff of two week-truncated dates is an exact
    // multiple of 7 and the integer division is exact.
    "events_cohort" -> """
      WITH f AS (
        SELECT user_id,
          CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1)
      SELECT f.cohort_week,
        CAST(datediff('day', f.cohort_week,
          CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT)
          AS week_offset,
        count(DISTINCT e.user_id) AS n_users
      FROM events e JOIN f ON e.user_id = f.user_id
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // Replay of Behavior.transitions: lag over the total (ts, event_id)
    // order per user; P(next | prev) is one double division of exact
    // counts.
    "events_transitions" -> """
      WITH p AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev_type,
          event_type AS next_type
        FROM events),
      c AS (
        SELECT prev_type, next_type, count(*) AS n FROM p
        WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, next_type, n,
        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
      FROM c ORDER BY prev_type, next_type""",

    // Replay of DataQuality.checkRules: one aggregation row, NULL
    // conditions count as violations, rate is one long/long double
    // division.
    "dq_rules" -> """
      WITH t AS (SELECT count(*) AS n,
        sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 45, FALSE)
          THEN 1 ELSE 0 END) AS v0,
        sum(CASE WHEN NOT coalesce(l_discount <= 0.08, FALSE)
          THEN 1 ELSE 0 END) AS v1,
        sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
          THEN 1 ELSE 0 END) AS v2,
        sum(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE)
          THEN 1 ELSE 0 END) AS v3,
        sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v4
        FROM lineitem)
      SELECT rule_name, CAST(n_violations AS BIGINT) AS n_violations,
        CAST(n_rows AS BIGINT) AS n_rows,
        CAST(n_violations AS DOUBLE) / n_rows AS violation_rate
      FROM (
        SELECT 'qty_in_1_45' AS rule_name, v0 AS n_violations, n AS n_rows
          FROM t
        UNION ALL SELECT 'discount_max_8pct', v1, n FROM t
        UNION ALL SELECT 'price_positive', v2, n FROM t
        UNION ALL SELECT 'returnflag_domain', v3, n FROM t
        UNION ALL SELECT 'shipdate_present', v4, n FROM t)
      ORDER BY rule_name""",

    // Replay of DataQuality.linkageScore: blocked pairs on the nation
    // key, score = LinkNameW * round(jw(name), 6)
    //            + LinkSegW  * (segment equality), summed in that order,
    // rounded to 6 dp — the same IEEE sequence the Spark side builds.
    "linkage_score" -> s"""
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        round($LinkNameW
            * round(jaro_winkler_similarity(a.c_name, b.c_name), 6)
          + $LinkSegW * (CASE WHEN a.c_mktsegment = b.c_mktsegment
              THEN 1.0 ELSE 0.0 END), 6) AS score
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE round($LinkNameW
            * round(jaro_winkler_similarity(a.c_name, b.c_name), 6)
          + $LinkSegW * (CASE WHEN a.c_mktsegment = b.c_mktsegment
              THEN 1.0 ELSE 0.0 END), 6) >= $LinkMinScore
      ORDER BY id_a, id_b""",

    // Replay of Retrieval.rankEval over the tf-ranked run: the discount
    // and ideal-DCG tables are THE SAME fixed-point literals the Spark
    // plan inlines (Retrieval.ndcgDiscountsFp / ndcgCumFp) — DCG is an
    // exact long sum, every ratio one exact-integer double division.
    "retrieval_eval" -> s"""
      WITH w AS (SELECT doc_id,
              unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT term AS query_id, doc_id, count(*) AS tf FROM w
             WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
             GROUP BY 1, 2),
      run AS (SELECT query_id, doc_id, row_number() OVER
              (PARTITION BY query_id ORDER BY tf DESC, doc_id) AS rnk
              FROM tf),
      rels AS (SELECT query_id, doc_id FROM tf WHERE tf >= $EvalRelTf),
      nrel AS (SELECT query_id, count(*) AS n_rel FROM rels GROUP BY 1),
      d AS (SELECT * FROM (VALUES ${Retrieval.ndcgDiscountsFp(EvalK)
        .zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }
        .mkString(", ")}) AS v(rnk, dfp)),
      c AS (SELECT * FROM (VALUES ${Retrieval.ndcgCumFp(EvalK)
        .zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }
        .mkString(", ")}) AS v(n, cumfp)),
      hits AS (SELECT r.query_id, count(*) AS hit, min(r.rnk) AS frr,
               sum(d.dfp) AS dcg_fp
               FROM run r JOIN rels USING (query_id, doc_id)
               JOIN d ON d.rnk = r.rnk
               WHERE r.rnk <= $EvalK GROUP BY 1)
      SELECT n.query_id, n.n_rel,
        coalesce(h.hit, 0) AS n_rel_at_k,
        CAST(coalesce(h.hit, 0) AS DOUBLE) / $EvalK AS precision_at_k,
        CAST(coalesce(h.hit, 0) AS DOUBLE) / n.n_rel AS recall_at_k,
        coalesce(CAST(1.0 AS DOUBLE) / h.frr, CAST(0.0 AS DOUBLE)) AS rr,
        CAST(coalesce(h.dcg_fp, 0) AS DOUBLE) / c.cumfp AS ndcg_at_k
      FROM nrel n LEFT JOIN hits h USING (query_id)
      JOIN c ON c.n = least(n.n_rel, $EvalK)
      ORDER BY query_id""",

    // Replay of Behavior.funnel with the conversion deadline: the same
    // min-ts chaining plus an exact micro-interval upper bound.
    "events_funnel_deadline" -> s"""
      WITH s1 AS (
        SELECT user_id, min(ts) AS r FROM events
        WHERE event_type = '${FunnelSteps(0)}' GROUP BY 1),
      s2 AS (
        SELECT e.user_id, min(e.ts) AS r FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.r
          AND e.ts <= s1.r + INTERVAL '$FunnelGapSec' SECOND
        GROUP BY 1),
      s3 AS (
        SELECT e.user_id, min(e.ts) AS r FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.r
          AND e.ts <= s2.r + INTERVAL '$FunnelGapSec' SECOND
        GROUP BY 1),
      n AS (
        SELECT 1 AS step_idx, '${FunnelSteps(0)}' AS step_name,
          count(*) AS n_users FROM s1
        UNION ALL SELECT 2, '${FunnelSteps(1)}', count(*) FROM s2
        UNION ALL SELECT 3, '${FunnelSteps(2)}', count(*) FROM s3)
      SELECT step_idx, step_name, n_users,
        CASE WHEN n_users = 0 THEN CAST(0.0 AS DOUBLE)
          ELSE coalesce(CAST(n_users AS DOUBLE)
            / lag(n_users) OVER (ORDER BY step_idx), 1.0) END
          AS conv_from_prev,
        CASE WHEN n_users = 0 THEN CAST(0.0 AS DOUBLE)
          ELSE CAST(n_users AS DOUBLE)
            / first_value(n_users) OVER (ORDER BY step_idx) END
          AS conv_from_first
      FROM n ORDER BY step_idx""",

    // Replay of Behavior.linearAttribution: per (touch, conversion) the
    // credit is floor(value * 1e6 / n_touches) in LONG micro-units, per
    // touch an exact long sum.
    "events_attribution" -> s"""
      WITH t AS (SELECT user_id, event_id AS touch_id,
              epoch_us(ts) AS t_us FROM events WHERE event_type = 'click'),
      c AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_us,
              CAST(value AS DOUBLE) AS v FROM events
            WHERE event_type = 'purchase'),
      p AS (SELECT t.touch_id, c.conv_id, c.v FROM t
            JOIN c ON t.user_id = c.user_id
            AND t.t_us <= c.c_us
            AND t.t_us >= c.c_us - ${AttrWindowSec * 1000000L}),
      n AS (SELECT conv_id, count(*) AS nt FROM p GROUP BY 1),
      f AS (SELECT p.touch_id,
              CAST(floor(p.v * CAST(1000000 AS DOUBLE) / n.nt) AS BIGINT)
                AS c_fp
            FROM p JOIN n USING (conv_id))
      SELECT touch_id, count(*) AS n_conversions,
        CAST(sum(c_fp) AS BIGINT) AS credit_fp,
        CAST(sum(c_fp) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS credit
      FROM f GROUP BY touch_id ORDER BY touch_id""",

    // Replay of Behavior.timeDecayAttribution: pinned-ln2 exp decay
    // quantized to micro-weight longs, exact per-conversion weight sums,
    // floor credit split.
    "events_attribution_decay" -> s"""
      WITH t AS (SELECT user_id, event_id AS touch_id,
              epoch_us(ts) AS t_us FROM events WHERE event_type = 'click'),
      c AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS c_us,
              CAST(value AS DOUBLE) AS v FROM events
            WHERE event_type = 'purchase'),
      p AS (SELECT t.touch_id, c.conv_id, c.v,
              CAST(round(exp(-0.6931471805599453
                  * ((c.c_us - t.t_us)::DOUBLE
                    / ${AttrHalfLifeSec * 1000000L}::DOUBLE))
                * CAST(1000000 AS DOUBLE)) AS BIGINT) AS w_fp
            FROM t JOIN c ON t.user_id = c.user_id
            AND t.t_us <= c.c_us
            AND t.t_us >= c.c_us - ${AttrWindowSec * 1000000L}),
      n AS (SELECT conv_id, CAST(sum(w_fp) AS BIGINT) AS ws
            FROM p GROUP BY 1),
      f AS (SELECT p.touch_id,
              CAST(floor(p.v * CAST(1000000 AS DOUBLE) * p.w_fp::DOUBLE
                / n.ws::DOUBLE) AS BIGINT) AS c_fp
            FROM p JOIN n USING (conv_id) WHERE n.ws > 0)
      SELECT touch_id, count(*) AS n_conversions,
        CAST(sum(c_fp) AS BIGINT) AS credit_fp,
        CAST(sum(c_fp) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS credit
      FROM f GROUP BY touch_id ORDER BY touch_id""",

    // Replay of Graph.assortativity over the lpa/triangle edge CTE:
    // exact integer degree sufficient statistics over both orientations,
    // one final double expression.
    "graph_assortativity" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      deg AS (SELECT node, count(*)::BIGINT AS dg FROM
              (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
              GROUP BY 1),
      pr AS (SELECT x.dg AS da, y.dg AS db FROM und e
             JOIN deg x ON e.a = x.node JOIN deg y ON e.b = y.node),
      st AS (SELECT count(*)::BIGINT AS n_edges,
               SUM((da + db)::HUGEINT) AS sx,
               SUM(da::HUGEINT * da + db::HUGEINT * db) AS sxx,
               SUM(2::HUGEINT * da * db) AS sxy
             FROM pr)
      SELECT n_edges, (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
        round(CASE WHEN vx > 0 THEN (nd * sxyd - sxd * sxd) / vx
          ELSE 0 END, 6) + 0.0 AS assortativity
      FROM (SELECT n_edges, (n_edges * 2)::DOUBLE AS nd,
              sx::DOUBLE AS sxd, sxy::DOUBLE AS sxyd,
              (n_edges * 2)::DOUBLE * sxx::DOUBLE
                - sx::DOUBLE * sx::DOUBLE AS vx
            FROM st)""",

    // Replay of TimeSeries.forecastEval over the two-hour-mean forecast:
    // scalar-double per-row terms quantized x2^20, exact long sums, one
    // final division (plus sqrt for rmse) per metric.
    "events_forecast_eval" -> """
      WITH s AS (SELECT event_type AS key,
              epoch_us(ts) // 3600000000 AS hour, count(*)::BIGINT AS cnt
            FROM events GROUP BY 1, 2),
      wf AS (SELECT key, hour, cnt::DOUBLE AS a,
              (lag(cnt, 1) OVER (PARTITION BY key ORDER BY hour)
                + lag(cnt, 2) OVER (PARTITION BY key ORDER BY hour))::DOUBLE
                / 2::DOUBLE AS f
             FROM s),
      r AS (SELECT key, hour, a, f,
              abs(a - lag(a) OVER (PARTITION BY key ORDER BY hour)) AS nv
            FROM wf WHERE f IS NOT NULL),
      gr AS (SELECT key, count(*)::BIGINT AS n,
              SUM(CAST(round(abs(a - f) * 1048576) AS BIGINT)) AS sae,
              SUM(CAST(round((a - f) * (a - f) * 1048576) AS BIGINT))
                AS sse,
              SUM(CASE WHEN a != 0 THEN
                CAST(round(abs(a - f) / abs(a) * 1048576) AS BIGINT)
                END) AS sape,
              SUM(CASE WHEN a != 0 THEN 1 ELSE 0 END)::BIGINT AS nape,
              SUM(CASE WHEN abs(a) + abs(f) > 0 THEN
                CAST(round(2::DOUBLE * abs(a - f) / (abs(a) + abs(f))
                  * 1048576) AS BIGINT) END) AS ssm,
              SUM(CASE WHEN abs(a) + abs(f) > 0 THEN 1 ELSE 0 END)::BIGINT
                AS nsm,
              SUM(CAST(round(nv * 1048576) AS BIGINT)) AS snaive,
              count(nv)::BIGINT AS nnaive
             FROM r GROUP BY 1)
      SELECT key, n,
        round(sae::DOUBLE / 1048576 / n::DOUBLE, 6) + 0.0 AS mae,
        round(sqrt(sse::DOUBLE / 1048576 / n::DOUBLE), 6) + 0.0 AS rmse,
        CASE WHEN nape > 0 THEN
          round(sape::DOUBLE / 1048576 / nape::DOUBLE, 6) + 0.0 END
          AS mape,
        CASE WHEN nsm > 0 THEN
          round(ssm::DOUBLE / 1048576 / nsm::DOUBLE, 6) + 0.0 END AS smape,
        CASE WHEN nnaive > 0 AND snaive > 0 THEN
          round((sae::DOUBLE / 1048576 / n::DOUBLE)
            / (snaive::DOUBLE / 1048576 / nnaive::DOUBLE), 6) + 0.0 END
          AS mase
      FROM gr ORDER BY key""",

    // Replay of TextAnalysis.charClassMix: codepoint-count classes with
    // Java/RE2-portable syntax, remainder = other, 6dp ratios.
    "text_charclass" -> """
      SELECT doc_id, n_chars, n_letters, n_digits, n_ws, n_non_ascii,
        (n_chars - n_letters - n_digits - n_ws - n_non_ascii) AS n_other,
        CASE WHEN n_chars > 0 THEN
          round(n_letters::DOUBLE / n_chars::DOUBLE, 6) + 0.0
          ELSE 0.0 END AS letter_ratio,
        CASE WHEN n_chars > 0 THEN
          round(n_digits::DOUBLE / n_chars::DOUBLE, 6) + 0.0
          ELSE 0.0 END AS digit_ratio,
        CASE WHEN n_chars > 0 THEN
          round(n_non_ascii::DOUBLE / n_chars::DOUBLE, 6) + 0.0
          ELSE 0.0 END AS non_ascii_ratio,
        CASE WHEN n_chars > 0 THEN
          round((n_chars - n_letters - n_digits - n_ws - n_non_ascii)::DOUBLE
            / n_chars::DOUBLE, 6) + 0.0
          ELSE 0.0 END AS other_ratio
      FROM (
        SELECT doc_id, length(text)::BIGINT AS n_chars,
          len(regexp_extract_all(text, '[A-Za-z]'))::BIGINT AS n_letters,
          len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digits,
          len(regexp_extract_all(text, '[ \t\n\r]'))::BIGINT AS n_ws,
          len(regexp_extract_all(text, '[^\x00-\x7F]'))::BIGINT
            AS n_non_ascii
        FROM documents)
      ORDER BY doc_id""",

    // Replay of TextAnalysis.scriptMix over the same mixed-script
    // augmentation: the IDENTICAL literal range characters (shared
    // Scala constants interpolated here), single-char-class match
    // counts, guarded 6dp shares.
    "text_script_mix" -> s"""
      WITH src AS (
        SELECT doc_id, text || ' ' || repeat('ф', (doc_id % 3)::INT)
          || repeat('中', (doc_id % 2)::INT)
          || repeat('7', (doc_id % 4)::INT) AS text
        FROM documents),
      c AS (
        SELECT doc_id, length(text)::BIGINT AS n_chars,
          ${graft.ops.TextAnalysis.ScriptClasses.map { case (n, re) =>
            s"len(regexp_extract_all(text, '$re'))::BIGINT AS n_$n,"
          }.mkString("\n          ")}
          len(regexp_extract_all(text,
            '${graft.ops.TextAnalysis.ScriptWs}'))::BIGINT AS n_ws
        FROM src),
      o AS (
        SELECT *, (n_chars - (${graft.ops.TextAnalysis.ScriptClasses
            .map(c => s"n_${c._1}").mkString(" + ")} + n_ws)) AS n_other
        FROM c)
      SELECT doc_id, n_chars,
        ${graft.ops.TextAnalysis.ScriptClasses.map(c =>
          s"n_${c._1},").mkString(" ")} n_ws, n_other,
        ${graft.ops.TextAnalysis.ScriptClasses.map { case (n, _) =>
          s"CASE WHEN n_chars > 0 THEN round(n_$n::DOUBLE" +
            s" / n_chars::DOUBLE, 6) + 0.0 ELSE 0.0 END AS share_$n,"
        }.mkString("\n        ")}
        CASE WHEN n_chars > 0 THEN round(n_other::DOUBLE
          / n_chars::DOUBLE, 6) + 0.0 ELSE 0.0 END AS share_other
      FROM o ORDER BY doc_id""",

    // Replay of Profile.joinSkew: exact per-key counts each side, output
    // contribution n_left * n_right, top-k by (est desc, key).
    "join_skew" -> s"""
      WITH lc AS (SELECT l_partkey AS key, count(*) AS n_left
                  FROM lineitem GROUP BY 1),
      rc AS (SELECT l_partkey AS key, count(*) AS n_right
             FROM lineitem GROUP BY 1)
      SELECT lc.key, n_left, n_right, n_left * n_right AS est_rows
      FROM lc JOIN rc USING (key)
      ORDER BY est_rows DESC, key LIMIT $SkewTopK""",

    // SEMANTIC oracle for the incremental-view contract: the merge of
    // per-shard states must equal the direct aggregate of the union —
    // exact DECIMAL sums make the equality bit-for-bit.
    "agg_state_merge" -> """
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""",

    // Replay of TextAnalysis.headCoverage: exact term counts, top-k by
    // (cf desc, term), cumulative share of all corpus tokens.
    "text_head_coverage" -> s"""
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS term
                 FROM documents),
      cf AS (SELECT term, count(*) AS cf FROM t GROUP BY 1),
      tot AS (SELECT sum(cf) AS total_tokens FROM cf),
      top AS (SELECT term, cf,
              row_number() OVER (ORDER BY cf DESC, term) AS rank
              FROM cf ORDER BY cf DESC, term LIMIT $HeadK)
      SELECT rank, term, cf,
        CAST(sum(cf) OVER (ORDER BY rank) AS BIGINT) AS cum_cf,
        CAST(total_tokens AS BIGINT) AS total_tokens,
        CAST(sum(cf) OVER (ORDER BY rank) AS DOUBLE) / total_tokens
          AS coverage
      FROM top CROSS JOIN tot ORDER BY rank""",

    // Replay of TimeSeries.cusum: the integer recurrence
    // s_t = max(0, s_{t-1} + floor(v*1e6) - k) under (ts, id) order per
    // user — the events_ewma recursive-CTE pattern in pure BIGINT space.
    "events_cusum" -> s"""
      WITH RECURSIVE e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT) AS xfp,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
      rec AS (
        SELECT user_id, rn, event_id, ts_us,
          greatest(0, xfp - ${math.floor(
            (CusumTarget + CusumSlack) * 1000000d).toLong}) AS s
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.event_id, e.ts_us,
          greatest(0, r.s + e.xfp - ${math.floor(
            (CusumTarget + CusumSlack) * 1000000d).toLong})
        FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, ts_us, s AS s_fp,
        s > ${math.floor(CusumThreshold * 1000000d).toLong} AS alarm
      FROM rec ORDER BY event_id""",

    // Replay of TimeSeries.intervalUtilization over per-user activity
    // spans: floor-div bucket assignment, min/max clamping, exact long
    // sums.
    "events_utilization" -> s"""
      WITH iv AS (
        SELECT user_id, min(epoch_us(ts)) AS s,
          max(epoch_us(ts)) + 1 AS e
        FROM events GROUP BY 1),
      b AS (
        SELECT user_id, s, e,
          unnest(generate_series(s // ${UtilBucketSec * 1000000L},
            (e - 1) // ${UtilBucketSec * 1000000L})) AS bkt
        FROM iv)
      SELECT user_id,
        CAST(bkt * ${UtilBucketSec * 1000000L} AS BIGINT)
          AS bucket_start_us,
        CAST(sum(least(e, (bkt + 1) * ${UtilBucketSec * 1000000L})
          - greatest(s, bkt * ${UtilBucketSec * 1000000L})) AS BIGINT)
          AS overlap_us
      FROM b GROUP BY 1, 2 ORDER BY user_id, bucket_start_us""",

    // Replay of Graph.personalizedPagerank: the pagerank unrolled replay
    // with teleport mass restricted to the supplier ('s'-prefixed) seed
    // nodes — r0 is RankScale div n_seeds on seeds, 0 elsewhere, and the
    // per-iteration re-base term (r0 * 150) // 1000 is then already 0
    // for non-seeds.
    "pagerank_personalized" -> """
      WITH e AS (SELECT DISTINCT 's' || l_suppkey AS src,
              'c' || o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
      ns AS (SELECT COUNT(*) AS n FROM nd WHERE node LIKE 's%'),
      r0 AS (SELECT node, CASE WHEN node LIKE 's%'
               THEN 1000000000000 // n ELSE 0 END AS r
             FROM nd CROSS JOIN ns),
      c1 AS (SELECT e.dst AS node, SUM((r.r * 850) // (od.od * 1000)) AS cs
             FROM e JOIN od USING (src) JOIN r0 r ON r.node = e.src
             GROUP BY e.dst),
      r1 AS (SELECT r0.node, (r0.r * 150) // 1000 + COALESCE(cs, 0) AS r
             FROM r0 LEFT JOIN c1 USING (node)),
      c2 AS (SELECT e.dst AS node, SUM((r.r * 850) // (od.od * 1000)) AS cs
             FROM e JOIN od USING (src) JOIN r1 r ON r.node = e.src
             GROUP BY e.dst),
      r2 AS (SELECT r0.node, (r0.r * 150) // 1000 + COALESCE(cs, 0) AS r
             FROM r0 LEFT JOIN c2 USING (node)),
      c3 AS (SELECT e.dst AS node, SUM((r.r * 850) // (od.od * 1000)) AS cs
             FROM e JOIN od USING (src) JOIN r2 r ON r.node = e.src
             GROUP BY e.dst),
      r3 AS (SELECT r0.node, (r0.r * 150) // 1000 + COALESCE(cs, 0) AS r
             FROM r0 LEFT JOIN c3 USING (node))
      SELECT node, r::BIGINT AS rank_fp,
        r::DOUBLE / 1000000000000.0 AS rank
      FROM r3 ORDER BY node""",

    // Replay of Graph.linkPrediction on the triangle_count co-occurrence
    // graph: wedge pairs through degree-bounded centers, existing edges
    // anti-joined away, Jaccard = one exact-integer double division.
    "graph_link_pred" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY 1),
      ctr AS (SELECT s.a AS z, s.b AS n FROM sym s
              JOIN deg d ON d.node = s.a WHERE d.deg <= $LinkPredMaxDeg),
      pairs AS (SELECT c1.n AS x, c2.n AS y FROM ctr c1
                JOIN ctr c2 ON c1.z = c2.z AND c1.n < c2.n),
      cn AS (SELECT x, y, count(*) AS n_common FROM pairs
             GROUP BY 1, 2 HAVING count(*) >= $LinkPredMinCommon),
      cand AS (SELECT * FROM cn WHERE NOT EXISTS (
               SELECT 1 FROM und e WHERE e.a = cn.x AND e.b = cn.y))
      SELECT cand.x AS node_a, cand.y AS node_b, cand.n_common,
        da.deg AS deg_a, db.deg AS deg_b,
        CAST(cand.n_common AS DOUBLE)
          / (da.deg + db.deg - cand.n_common) AS jaccard
      FROM cand JOIN deg da ON da.node = cand.x
      JOIN deg db ON db.node = cand.y
      ORDER BY node_a, node_b""",

    // Replay of Drift.ksStatistic: per-value counts, full-outer merge,
    // cumulative sums, and the exact HUGEINT numerator
    // |cumA*nB - cumB*nA|; argmax ties to the smallest value; the one
    // double division replicates Spark's ta.toDouble * tb.toDouble
    // denominator literal.
    // Replay of Drift.chiSquareIndependence: same cells/margins, scalar
    // per-cell terms over exact integers, x2^20 fixed-point cross-cell
    // sum, Cramer's V in the operator's double order.
    // Replay of Url.normalize over the shared messy-URL construction:
    // the same pinned rule chain — fragment strip, lowercase
    // scheme/authority, scheme-default port strip, trailing-slash
    // strip, order-preserving tracking-param filter.
    "url_normalize" -> s"""
      WITH $urlSrcCte,
      n1 AS (SELECT doc_id, url, split_part(url, '#', 1) AS nofrag
             FROM src),
      n2 AS (
        SELECT *, CASE WHEN position('://' IN nofrag) > 0
            THEN lower(split_part(nofrag, '://', 1)) END AS scheme,
          substr(nofrag, position('://' IN nofrag) + 3) AS rest
        FROM n1),
      n2c AS (
        SELECT *, CASE WHEN position('/' IN rest) > 0
              AND (position('?' IN rest) = 0
                OR position('/' IN rest) < position('?' IN rest))
            THEN position('/' IN rest)
          WHEN position('?' IN rest) > 0 THEN position('?' IN rest)
          ELSE length(rest) + 1 END AS cut
        FROM n2),
      n3 AS (
        SELECT *,
          CASE WHEN scheme = 'http'
              THEN regexp_replace(lower(substr(rest, 1, cut - 1)),
                ':80$$', '')
            WHEN scheme = 'https'
              THEN regexp_replace(lower(substr(rest, 1, cut - 1)),
                ':443$$', '')
            ELSE lower(substr(rest, 1, cut - 1)) END AS auth,
          substr(rest, cut) AS pathq
        FROM n2c),
      n4 AS (
        SELECT *,
          regexp_replace(split_part(pathq, '?', 1), '/+$$', '') AS path,
          CASE WHEN position('?' IN pathq) > 0
            THEN substr(pathq, position('?' IN pathq) + 1) END AS query
        FROM n3),
      n5 AS (
        SELECT *, CASE WHEN query IS NOT NULL
            THEN list_filter(string_split(query, '&'),
              p -> NOT (left(lower(split_part(p, '=', 1)), 4) = 'utm_'
                OR lower(split_part(p, '=', 1))
                  IN ('gclid', 'fbclid', 'msclkid', 'ref')))
            ELSE [] END AS kept
        FROM n4)
      SELECT doc_id, url,
        CASE WHEN scheme IS NULL THEN NULL
          ELSE scheme || '://' || auth || path
            || (CASE WHEN len(kept) > 0
                THEN '?' || array_to_string(kept, '&') ELSE '' END)
        END AS url_norm
      FROM n5 ORDER BY doc_id""",

    // Replay of Url.domainMix: canonical host (lowercase authority,
    // port strip, one www strip), domain-keyed counts + exact token
    // sums, one-row totals for the shares.
    "domain_mix" -> s"""
      WITH $urlSrcCte,
      d0 AS (
        SELECT n_chars,
          position('://' IN split_part(url, '#', 1)) > 0 AS ok,
          substr(split_part(url, '#', 1),
            position('://' IN split_part(url, '#', 1)) + 3) AS rest
        FROM src),
      d1 AS (
        SELECT *, CASE WHEN position('/' IN rest) > 0
              AND (position('?' IN rest) = 0
                OR position('/' IN rest) < position('?' IN rest))
            THEN position('/' IN rest)
          WHEN position('?' IN rest) > 0 THEN position('?' IN rest)
          ELSE length(rest) + 1 END AS cut
        FROM d0),
      d AS (
        SELECT CASE WHEN ok THEN regexp_replace(regexp_replace(
              lower(substr(rest, 1, cut - 1)), ':[0-9]+$$', ''),
            '^www\\.', '') END AS domain,
          coalesce(n_chars, 0)::BIGINT AS tok
        FROM d1),
      per AS (
        SELECT domain, count(*)::BIGINT AS n_docs,
          sum(tok)::BIGINT AS n_tokens
        FROM d GROUP BY 1),
      tot AS (SELECT sum(n_docs)::BIGINT AS td,
        sum(n_tokens)::BIGINT AS tt FROM per)
      SELECT domain, n_docs,
        (round(n_docs::DOUBLE / td, 6) + 0.0) AS doc_share,
        n_tokens,
        (round(n_tokens::DOUBLE / tt, 6) + 0.0) AS token_share
      FROM per, tot ORDER BY domain""",

    // Replay of Url.domainQuality: canonical host, exact pass counts,
    // one-row corpus rate, the pinned m-estimate (m = 20).
    "domain_quality" -> s"""
      WITH $urlSrcCte,
      d0 AS (
        SELECT (n_chars >= 306) AS g,
          position('://' IN split_part(url, '#', 1)) > 0 AS ok,
          substr(split_part(url, '#', 1),
            position('://' IN split_part(url, '#', 1)) + 3) AS rest
        FROM src WHERE n_chars IS NOT NULL),
      d1 AS (
        SELECT *, CASE WHEN position('/' IN rest) > 0
              AND (position('?' IN rest) = 0
                OR position('/' IN rest) < position('?' IN rest))
            THEN position('/' IN rest)
          WHEN position('?' IN rest) > 0 THEN position('?' IN rest)
          ELSE length(rest) + 1 END AS cut
        FROM d0),
      d AS (
        SELECT CASE WHEN ok THEN regexp_replace(regexp_replace(
              lower(substr(rest, 1, cut - 1)), ':[0-9]+$$', ''),
            '^www\\.', '') END AS domain, g
        FROM d1),
      per AS (
        SELECT domain, count(*)::BIGINT AS n,
          sum(CASE WHEN g THEN 1 ELSE 0 END)::BIGINT AS k
        FROM d GROUP BY 1),
      tot AS (SELECT sum(n)::BIGINT AS tn, sum(k)::BIGINT AS tk FROM per)
      SELECT domain, n AS n_docs, k AS k_good,
        (round(k::DOUBLE / n::DOUBLE, 6) + 0.0) AS rate_raw,
        (round(tk::DOUBLE / tn::DOUBLE, 6) + 0.0) AS rate_corpus,
        (round((k::DOUBLE + 20.0::DOUBLE * (tk::DOUBLE / tn::DOUBLE))
          / (n::DOUBLE + 20.0::DOUBLE), 6) + 0.0) AS rate_shrunk
      FROM per, tot ORDER BY domain""",

    // ab_chi2_independence is a dump-time-trained oracle (the ANY-dof
    // survival series unrolls from the observed dof) — see
    // chi2IndependenceOracle above; it joins the map in `oracles`.

    // Replay of Url.domainFilter ∘ Dedup.exact (curate_domains): the
    // shared canonical-domain parse, the m-estimate scores over
    // non-null verdicts, threshold on the ROUNDED shrunk rate, join
    // back over ALL rows, exact-dedup keep-smallest-doc_id.
    "curate_domains" -> s"""
      WITH $urlSrcCte,
      d0 AS (
        SELECT doc_id, (n_chars >= 306) AS g,
          position('://' IN split_part(url, '#', 1)) > 0 AS ok,
          substr(split_part(url, '#', 1),
            position('://' IN split_part(url, '#', 1)) + 3) AS rest
        FROM src),
      d1 AS (
        SELECT *, CASE WHEN position('/' IN rest) > 0
              AND (position('?' IN rest) = 0
                OR position('/' IN rest) < position('?' IN rest))
            THEN position('/' IN rest)
          WHEN position('?' IN rest) > 0 THEN position('?' IN rest)
          ELSE length(rest) + 1 END AS cut
        FROM d0),
      dom AS (
        SELECT doc_id, g, CASE WHEN ok THEN regexp_replace(regexp_replace(
            lower(substr(rest, 1, cut - 1)), ':[0-9]+$$', ''),
            '^www\\.', '') END AS domain
        FROM d1),
      per AS (
        SELECT domain, count(*)::BIGINT AS n,
          sum(CASE WHEN g THEN 1 ELSE 0 END)::BIGINT AS k
        FROM dom WHERE g IS NOT NULL GROUP BY 1),
      tot AS (SELECT sum(n)::BIGINT AS tn, sum(k)::BIGINT AS tk FROM per),
      scores AS (
        SELECT * FROM (
          SELECT domain,
            (round((k::DOUBLE + 20.0::DOUBLE * (tk::DOUBLE / tn::DOUBLE))
              / (n::DOUBLE + 20.0::DOUBLE), 6) + 0.0) AS rate_shrunk
          FROM per, tot
          WHERE domain IS NOT NULL)
        WHERE rate_shrunk >= 0.5::DOUBLE),
      kept AS (
        SELECT dom.doc_id, dom.domain, scores.rate_shrunk
        FROM dom JOIN scores USING (domain)),
      j AS (
        SELECT kept.doc_id, doc.lang, kept.domain, kept.rate_shrunk,
          doc.text
        FROM kept JOIN documents doc USING (doc_id))
      SELECT doc_id, lang, domain, rate_shrunk FROM j
      QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
      ORDER BY doc_id""",

    // Replay of Drift.wilcoxonSignedRank over the per-user paired means:
    // fixed-point half means, x2^20-quantized diffs (the tie structure
    // is engine-exact), zero diffs drop, 2W+ = sum kp*(2*cumExcl + k + 1)
    // over |d| groups, tie-corrected z in the operator's double order.
    "ab_wilcoxon" -> s"""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts,
          round(value * 1048576.0)::BIGINT AS vfp
        FROM events WHERE value IS NOT NULL),
      mid AS (SELECT (min(ts) + max(ts)) // 2 AS m FROM ev),
      paired AS (
        SELECT
          sum(CASE WHEN ts <= m THEN vfp END)::DOUBLE
            / sum(CASE WHEN ts <= m THEN 1 ELSE 0 END)::DOUBLE
            / 1048576.0 AS before,
          sum(CASE WHEN ts > m THEN vfp END)::DOUBLE
            / sum(CASE WHEN ts > m THEN 1 ELSE 0 END)::DOUBLE
            / 1048576.0 AS after
        FROM ev, mid GROUP BY user_id
        HAVING sum(CASE WHEN ts <= m THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN ts > m THEN 1 ELSE 0 END) > 0),
      d AS (
        SELECT round(after * 1048576.0)::BIGINT
          - round(before * 1048576.0)::BIGINT AS d
        FROM paired),
      nz AS (SELECT abs(d) AS a, d > 0 AS pos FROM d WHERE d != 0),
      grp AS (
        SELECT a, count(*)::BIGINT AS k,
          sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS kp
        FROM nz GROUP BY 1),
      ranked AS (
        SELECT k, kp, sum(k) OVER (ORDER BY a) - k AS cx FROM grp),
      agg AS (
        SELECT sum(k)::BIGINT AS nnz,
          sum(kp::HUGEINT * (2 * cx::HUGEINT + k::HUGEINT + 1)) AS w2p,
          sum(k::HUGEINT * k::HUGEINT * k::HUGEINT - k::HUGEINT) AS tie
        FROM ranked),
      base AS (SELECT count(*)::BIGINT AS np FROM paired),
      zc AS (
        SELECT nnz, w2p,
          CASE WHEN nnz::DOUBLE * (nnz::DOUBLE + 1)
              * (2 * nnz::DOUBLE + 1) / 24.0 - tie::DOUBLE / 48.0 > 0
          THEN (w2p::DOUBLE / 2 - nnz::DOUBLE * (nnz::DOUBLE + 1) / 4.0)
            / sqrt(nnz::DOUBLE * (nnz::DOUBLE + 1)
              * (2 * nnz::DOUBLE + 1) / 24.0 - tie::DOUBLE / 48.0)
          ELSE 0.0::DOUBLE END AS zraw
        FROM agg)
      SELECT np AS n_pairs, nnz AS n_nonzero,
        w2p::DOUBLE / 2 AS w_plus,
        nnz::DOUBLE * (nnz::DOUBLE + 1) / 2.0 - w2p::DOUBLE / 2 AS w_minus,
        (round(zraw, 6) + 0.0) AS z,
        (round(${graft.functions.PValues.pTwoSidedZSql("zraw")}, 6) + 0.0)
          AS p_value
      FROM zc, base""",

    // Replay of Drift.mannWhitney: per-value counts, exclusive
    // cumulative-B (the oracle may use a global window; the operator may
    // not), exact HUGEINT 2U and Σ(t³−t), then the operator's pinned
    // double order for u/var/z (no continuity correction). Round 16:
    // two-sided normal p from the UNROUNDED z via the shared pinned erfc
    // kernel, and Cliff's delta 2U/(nA·nB) − 1 in the operator's double
    // order.
    "ab_mannwhitney" -> s"""
      WITH av AS (
        SELECT value AS v, count(*)::BIGINT AS na FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
      bv AS (
        SELECT value AS v, count(*)::BIGINT AS nb FROM events
        WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1),
      m AS (
        SELECT coalesce(av.v, bv.v) AS v, coalesce(na, 0) AS na,
          coalesce(nb, 0) AS nb
        FROM av FULL OUTER JOIN bv ON av.v = bv.v),
      c AS (
        SELECT na, nb,
          sum(nb) OVER (ORDER BY v) - nb AS cbx
        FROM m),
      agg AS (
        SELECT sum(na)::BIGINT AS na, sum(nb)::BIGINT AS nb,
          sum(na::HUGEINT * (2 * cbx::HUGEINT + nb::HUGEINT)) AS u2,
          sum((na + nb)::HUGEINT * (na + nb)::HUGEINT * (na + nb)::HUGEINT
            - (na + nb)::HUGEINT) AS tie
        FROM c),
      zc AS (
        SELECT na, nb, u2,
          CASE WHEN na::DOUBLE * nb / 12.0
              * (((na + nb)::DOUBLE + 1)
                - tie::DOUBLE / ((na + nb)::DOUBLE * ((na + nb)::DOUBLE - 1))) > 0
          THEN (u2::DOUBLE / 2 - na::DOUBLE * nb / 2.0)
            / sqrt(na::DOUBLE * nb / 12.0
              * (((na + nb)::DOUBLE + 1)
                - tie::DOUBLE / ((na + nb)::DOUBLE * ((na + nb)::DOUBLE - 1))))
          ELSE 0.0::DOUBLE END AS zraw
        FROM agg)
      SELECT na AS n_a, nb AS n_b,
        u2::DOUBLE / 2 AS u_a,
        na::DOUBLE * nb - u2::DOUBLE / 2 AS u_b,
        (round(zraw, 6) + 0.0) AS z,
        (round(${graft.functions.PValues.pTwoSidedZSql("zraw")}, 6) + 0.0)
          AS p_value,
        (round((2.0::DOUBLE * (u2::DOUBLE / 2))
          / (na::DOUBLE * nb::DOUBLE) - 1.0::DOUBLE, 6) + 0.0) AS delta
      FROM zc""",

    // ab_kruskal is a dump-time-trained oracle (the ANY-dof survival
    // series unrolls from the observed arm count) — see kruskalOracle
    // above; it joins the map in `oracles`.

    // Replay of Drift.anovaF: exact HUGEINT fixed-point moments per arm,
    // group-ASC list_reduce fold for sum S²/n, pinned-order F and eta².
    "ab_anova" -> s"""
      WITH g AS (
        SELECT o_orderpriority::VARCHAR AS grp,
          CAST(round(o_totalprice::DOUBLE * 1048576.0) AS HUGEINT) AS fpx
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      pg AS (
        SELECT grp, count(*)::BIGINT AS n, sum(fpx) AS s,
          sum(fpx * fpx) AS q
        FROM g GROUP BY grp),
      tot AS (
        SELECT sum(n)::BIGINT AS nn, count(*)::BIGINT AS k,
          sum(s)::DOUBLE / 1048576.0 AS st,
          sum(q)::DOUBLE / 1048576.0 / 1048576.0 AS qt,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(s::DOUBLE / 1048576.0 * (s::DOUBLE / 1048576.0)
              / n::DOUBLE ORDER BY grp)), (x, y) -> x + y) AS a
        FROM pg),
      ff AS (
        SELECT nn, k,
          CASE WHEN (qt - a) > 0
            THEN ((a - st * st / nn::DOUBLE) / (k - 1)::DOUBLE)
              / ((qt - a) / (nn::DOUBLE - k::DOUBLE))
            ELSE 0.0::DOUBLE END AS f,
          CASE WHEN (qt - st * st / nn::DOUBLE) > 0
            THEN (a - st * st / nn::DOUBLE)
              / (qt - st * st / nn::DOUBLE)
            ELSE 0.0::DOUBLE END AS eta
        FROM tot),
      -- F survival via the pinned incomplete-beta continued fraction
      -- (PValues.ibetaRegSqlCtes): x = d2/(d2 + d1·F), a = d2/2,
      -- b = d1/2, the fSurvival argument shapes
      anv_pf AS (SELECT
        (nn::DOUBLE - k::DOUBLE)
          / ((nn::DOUBLE - k::DOUBLE) + (k - 1)::DOUBLE * f) AS ib_x,
        (nn::DOUBLE - k::DOUBLE) / 2.0::DOUBLE AS ib_a,
        (k - 1)::DOUBLE / 2.0::DOUBLE AS ib_b
        FROM ff),
      ${graft.functions.PValues.ibetaRegSqlCtes("anv", "anv_pf")._1}
      SELECT pg.grp, pg.n,
        (round(pg.s::DOUBLE / 1048576.0 / pg.n::DOUBLE, 6) + 0.0) AS mean,
        (round(ff.f, 6) + 0.0) AS f,
        (ff.k - 1)::BIGINT AS dof1,
        (ff.nn - ff.k)::BIGINT AS dof2,
        (round(ff.eta, 6) + 0.0) AS eta_sq,
        (round(ib.ib_p, 6) + 0.0) AS p_value
      FROM pg, ff, anv_f ib
      ORDER BY grp""",

    // Replay of Drift.brownForsythe: quantile_cont medians (== Spark
    // percentile), |x − med| through the same fixed-point ANOVA chain.
    "ab_levene" -> s"""
      WITH v AS (
        SELECT o_orderpriority::VARCHAR AS grp, o_totalprice::DOUBLE AS x
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      med AS (SELECT grp, quantile_cont(x, 0.5) AS m FROM v GROUP BY grp),
      z AS (
        SELECT v.grp, med.m,
          CAST(round(abs(v.x - med.m) * 1048576.0) AS HUGEINT) AS fpx
        FROM v JOIN med USING (grp)),
      pg AS (
        SELECT grp, any_value(m) AS m, count(*)::BIGINT AS n,
          sum(fpx) AS s, sum(fpx * fpx) AS q
        FROM z GROUP BY grp),
      tot AS (
        SELECT sum(n)::BIGINT AS nn, count(*)::BIGINT AS k,
          sum(s)::DOUBLE / 1048576.0 AS st,
          sum(q)::DOUBLE / 1048576.0 / 1048576.0 AS qt,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(s::DOUBLE / 1048576.0 * (s::DOUBLE / 1048576.0)
              / n::DOUBLE ORDER BY grp)), (x, y) -> x + y) AS a
        FROM pg),
      ff AS (
        SELECT nn, k,
          CASE WHEN (qt - a) > 0
            THEN ((a - st * st / nn::DOUBLE) / (k - 1)::DOUBLE)
              / ((qt - a) / (nn::DOUBLE - k::DOUBLE))
            ELSE 0.0::DOUBLE END AS f
        FROM tot),
      -- F survival via the pinned incomplete-beta continued fraction
      lvn_pf AS (SELECT
        (nn::DOUBLE - k::DOUBLE)
          / ((nn::DOUBLE - k::DOUBLE) + (k - 1)::DOUBLE * f) AS ib_x,
        (nn::DOUBLE - k::DOUBLE) / 2.0::DOUBLE AS ib_a,
        (k - 1)::DOUBLE / 2.0::DOUBLE AS ib_b
        FROM ff),
      ${graft.functions.PValues.ibetaRegSqlCtes("lvn", "lvn_pf")._1}
      SELECT pg.grp, pg.n,
        (round(pg.m, 6) + 0.0) AS median,
        (round(pg.s::DOUBLE / 1048576.0 / pg.n::DOUBLE, 6) + 0.0)
          AS mean_absdev,
        (round(ff.f, 6) + 0.0) AS f,
        (ff.k - 1)::BIGINT AS dof1,
        (ff.nn - ff.k)::BIGINT AS dof2,
        (round(ib.ib_p, 6) + 0.0) AS p_value
      FROM pg, ff, lvn_f ib
      ORDER BY grp""",

    // Replay of Drift.welchT: exact fixed-point moments per side,
    // pinned-order means/variances/t and the Welch–Satterthwaite dof.
    // Round 16: p_normal = large-sample normal erfc(|t|/√2) from the
    // unrounded t (see the operator doc for the t-vs-normal caveat).
    "ab_welch" -> s"""
      WITH a AS (
        SELECT count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM (SELECT CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT)
                AS fpx FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL)),
      b AS (
        SELECT count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM (SELECT CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT)
                AS fpx FROM events
              WHERE event_type = 'click' AND value IS NOT NULL)),
      m AS (
        SELECT a.n AS na, b.n AS nb,
          a.s / a.n::DOUBLE AS ma, b.s / b.n::DOUBLE AS mb,
          (a.q - a.s * a.s / a.n::DOUBLE) / (a.n - 1)::DOUBLE AS va,
          (b.q - b.s * b.s / b.n::DOUBLE) / (b.n - 1)::DOUBLE AS vb
        FROM a, b),
      se AS (
        SELECT *, va / na::DOUBLE + vb / nb::DOUBLE AS se2 FROM m),
      tc AS (
        SELECT *, CASE WHEN se2 > 0 THEN (ma - mb) / sqrt(se2)
          ELSE 0.0::DOUBLE END AS traw
        FROM se),
      dofc AS (
        SELECT *, CASE WHEN se2 > 0 THEN se2 * se2
            / ((va / na::DOUBLE) * (va / na::DOUBLE) / (na - 1)::DOUBLE
              + (vb / nb::DOUBLE) * (vb / nb::DOUBLE) / (nb - 1)::DOUBLE)
          ELSE 0.0::DOUBLE END AS dofraw
        FROM tc),
      -- Student-t two-sided p at the fractional Welch dof via the
      -- pinned incomplete-beta continued fraction: x = dof/(dof+t²),
      -- a = dof/2, b = 1/2 (pStudentT2's argument shapes); degenerate
      -- dof <= 0 guarded to p = 1 on both engines
      wch_pf AS (SELECT
        CASE WHEN dofraw > 0.0::DOUBLE
          THEN dofraw / (dofraw + traw * traw)
          ELSE 0.5::DOUBLE END AS ib_x,
        CASE WHEN dofraw > 0.0::DOUBLE THEN dofraw / 2.0::DOUBLE
          ELSE 1.0::DOUBLE END AS ib_a,
        0.5::DOUBLE AS ib_b
        FROM dofc),
      ${graft.functions.PValues.ibetaRegSqlCtes("wch", "wch_pf")._1}
      SELECT na AS n_a, nb AS n_b,
        (round(ma, 6) + 0.0) AS mean_a,
        (round(mb, 6) + 0.0) AS mean_b,
        (round(va, 6) + 0.0) AS var_a,
        (round(vb, 6) + 0.0) AS var_b,
        (round(traw, 6) + 0.0) AS t,
        (round(dofraw, 6) + 0.0) AS dof,
        (round(${graft.functions.PValues.pTwoSidedZSql("traw")}, 6) + 0.0)
          AS p_normal,
        (round(CASE WHEN dofraw > 0.0::DOUBLE THEN ib.ib_p
          ELSE 1.0::DOUBLE END, 6) + 0.0) AS p_t
      FROM dofc, wch_f ib""",

    // Replay of Drift.ratioDelta: per-user exact fixed-point unit
    // sums, six ×2^20 HUGEINT moments per arm, delta-method variance
    // (s_xx − 2R·s_xy + R²·s_yy)/(n·ȳ²), erfc z p, ±1.959964 CI.
    "ab_ratio_delta" -> s"""
      WITH u AS (
        SELECT user_id,
          sum(CASE WHEN event_type = 'purchase'
            THEN CAST(round(value::DOUBLE * 1048576.0) AS BIGINT)
            ELSE 0 END)::DOUBLE / 1048576.0 AS num,
          count(*)::DOUBLE AS den
        FROM events GROUP BY user_id),
      fpu AS (
        SELECT 'g' || (user_id % 2)::VARCHAR AS arm,
          CAST(round(num * 1048576.0) AS HUGEINT) AS fx,
          CAST(round(den * 1048576.0) AS HUGEINT) AS fy
        FROM u),
      s AS (
        SELECT arm, count(*)::BIGINT AS n,
          sum(fx)::DOUBLE / 1048576.0 AS sx,
          sum(fy)::DOUBLE / 1048576.0 AS sy,
          sum(fx * fx)::DOUBLE / 1048576.0 / 1048576.0 AS sxx,
          sum(fy * fy)::DOUBLE / 1048576.0 / 1048576.0 AS syy,
          sum(fx * fy)::DOUBLE / 1048576.0 / 1048576.0 AS sxy
        FROM fpu GROUP BY arm),
      v AS (
        SELECT arm, n, sx / sy AS ratio,
          ((sxx - sx * sx / n::DOUBLE) / (n - 1)::DOUBLE
            - 2.0::DOUBLE * (sx / sy)
              * ((sxy - sx * sy / n::DOUBLE) / (n - 1)::DOUBLE)
            + (sx / sy) * (sx / sy)
              * ((syy - sy * sy / n::DOUBLE) / (n - 1)::DOUBLE))
          / (n::DOUBLE * (sy / n::DOUBLE) * (sy / n::DOUBLE)) AS vr
        FROM s),
      ab AS (
        SELECT a.n AS na, b.n AS nb, a.ratio AS ra, b.ratio AS rb,
          a.vr AS va, b.vr AS vb
        FROM (SELECT * FROM v WHERE arm = 'g0') a,
          (SELECT * FROM v WHERE arm = 'g1') b),
      f AS (
        SELECT *, ra - rb AS diff,
          CASE WHEN va + vb > 0.0::DOUBLE THEN sqrt(va + vb)
            ELSE 0.0::DOUBLE END AS se
        FROM ab),
      zc AS (
        SELECT *, CASE WHEN se > 0.0::DOUBLE THEN diff / se
          ELSE 0.0::DOUBLE END AS zraw
        FROM f)
      SELECT na AS n_a, nb AS n_b,
        (round(ra, 6) + 0.0) AS ratio_a,
        (round(rb, 6) + 0.0) AS ratio_b,
        (round(diff, 6) + 0.0) AS diff,
        (round(se, 6) + 0.0) AS se,
        (round(zraw, 6) + 0.0) AS z,
        (round(${graft.functions.PValues.pTwoSidedZSql("zraw")}, 6) + 0.0)
          AS p_value,
        (round(diff - 1.959964::DOUBLE * se, 6) + 0.0) AS ci_lo,
        (round(diff + 1.959964::DOUBLE * se, 6) + 0.0) AS ci_hi
      FROM zc""",

    // Replay of Drift.welchTost: the ab_welch moment CTEs, then the
    // two one-sided statistics at ±2.0 and TWO chained incomplete-beta
    // evaluations (one per bound; each one-sided p reads its |t|
    // two-sided value — half for the tested tail, complement-of-half
    // for the other sign), p_tost = max of the ROUNDED ps.
    "ab_tost" -> {
      val pass = Seq("na", "nb", "ma", "mb", "diffv", "sev", "dofv",
        "tlo", "thi")
      val (chainLo, finLo) =
        graft.functions.PValues.ibetaRegSqlCtes("tlo", "tlo_pf", pass)
      val (chainHi, finHi) =
        graft.functions.PValues.ibetaRegSqlCtes("thi", "thi_pf",
          pass :+ "plo2")
      s"""
      WITH ta AS (
        SELECT count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM (SELECT CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT)
                AS fpx FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL)),
      tb AS (
        SELECT count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM (SELECT CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT)
                AS fpx FROM events
              WHERE event_type = 'click' AND value IS NOT NULL)),
      tm AS (
        SELECT ta.n AS na, tb.n AS nb,
          ta.s / ta.n::DOUBLE AS ma, tb.s / tb.n::DOUBLE AS mb,
          (ta.q - ta.s * ta.s / ta.n::DOUBLE) / (ta.n - 1)::DOUBLE AS va,
          (tb.q - tb.s * tb.s / tb.n::DOUBLE) / (tb.n - 1)::DOUBLE AS vb
        FROM ta, tb),
      td AS (
        SELECT *, ma - mb AS diffv,
          va / na::DOUBLE + vb / nb::DOUBLE AS se2
        FROM tm),
      ts AS (
        SELECT *, CASE WHEN se2 > 0.0::DOUBLE THEN sqrt(se2)
            ELSE 0.0::DOUBLE END AS sev,
          CASE WHEN se2 > 0.0::DOUBLE THEN se2 * se2
            / ((va / na::DOUBLE) * (va / na::DOUBLE) / (na - 1)::DOUBLE
              + (vb / nb::DOUBLE) * (vb / nb::DOUBLE) / (nb - 1)::DOUBLE)
          ELSE 0.0::DOUBLE END AS dofv
        FROM td),
      tt AS (
        SELECT na, nb, ma, mb, diffv, sev, dofv,
          CASE WHEN sev > 0.0::DOUBLE
            THEN (diffv + 2.0::DOUBLE) / sev ELSE 0.0::DOUBLE END AS tlo,
          CASE WHEN sev > 0.0::DOUBLE
            THEN (diffv - 2.0::DOUBLE) / sev ELSE 0.0::DOUBLE END AS thi
        FROM ts),
      tlo_pf AS (
        SELECT na, nb, ma, mb, diffv, sev, dofv, tlo, thi,
          CASE WHEN dofv > 0.0::DOUBLE
            THEN dofv / (dofv + tlo * tlo) ELSE 0.5::DOUBLE END AS ib_x,
          CASE WHEN dofv > 0.0::DOUBLE THEN dofv / 2.0::DOUBLE
            ELSE 1.0::DOUBLE END AS ib_a,
          0.5::DOUBLE AS ib_b
        FROM tt),
      $chainLo,
      thi_pf AS (
        SELECT na, nb, ma, mb, diffv, sev, dofv, tlo, thi,
          ib_p AS plo2,
          CASE WHEN dofv > 0.0::DOUBLE
            THEN dofv / (dofv + thi * thi) ELSE 0.5::DOUBLE END AS ib_x,
          CASE WHEN dofv > 0.0::DOUBLE THEN dofv / 2.0::DOUBLE
            ELSE 1.0::DOUBLE END AS ib_a,
          0.5::DOUBLE AS ib_b
        FROM $finLo),
      $chainHi,
      tp AS (
        SELECT na, nb, ma, mb, diffv, sev, dofv, tlo, thi,
          (round(CASE WHEN dofv <= 0.0::DOUBLE THEN 1.0::DOUBLE
            WHEN tlo >= 0.0::DOUBLE THEN plo2 / 2.0::DOUBLE
            ELSE 1.0::DOUBLE - plo2 / 2.0::DOUBLE END, 6) + 0.0)
            AS p_lower,
          (round(CASE WHEN dofv <= 0.0::DOUBLE THEN 1.0::DOUBLE
            WHEN -thi >= 0.0::DOUBLE THEN ib_p / 2.0::DOUBLE
            ELSE 1.0::DOUBLE - ib_p / 2.0::DOUBLE END, 6) + 0.0)
            AS p_upper
        FROM $finHi)
      SELECT na AS n_a, nb AS n_b,
        (round(ma, 6) + 0.0) AS mean_a,
        (round(mb, 6) + 0.0) AS mean_b,
        (round(diffv, 6) + 0.0) AS diff,
        (round(sev, 6) + 0.0) AS se,
        (round(dofv, 6) + 0.0) AS dof,
        2.0::DOUBLE AS margin,
        (round(tlo, 6) + 0.0) AS t_lower,
        (round(thi, 6) + 0.0) AS t_upper,
        p_lower, p_upper,
        greatest(p_lower, p_upper) AS p_tost,
        (sev > 0.0::DOUBLE
          AND greatest(p_lower, p_upper) < 0.05::DOUBLE) AS equivalent
      FROM tp"""
    },

    // Replay of Drift.powerMde: the welch moment CTEs, pinned public
    // Φ⁻¹ literals (z_{0.975}=1.959964, z_{0.80}=0.841621), Φ through
    // the signed erfc CASE, ceil'd equal-n redesign.
    "ab_power" -> s"""
      WITH pa AS (
        SELECT count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM (SELECT CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT)
                AS fpx FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL)),
      pb AS (
        SELECT count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM (SELECT CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT)
                AS fpx FROM events
              WHERE event_type = 'click' AND value IS NOT NULL)),
      pm AS (
        SELECT pa.n AS na, pb.n AS nb,
          pa.s / pa.n::DOUBLE AS ma, pb.s / pb.n::DOUBLE AS mb,
          (pa.q - pa.s * pa.s / pa.n::DOUBLE) / (pa.n - 1)::DOUBLE AS va,
          (pb.q - pb.s * pb.s / pb.n::DOUBLE) / (pb.n - 1)::DOUBLE AS vb
        FROM pa, pb),
      pd AS (
        SELECT *, ma - mb AS diffv,
          sqrt(va / na::DOUBLE + vb / nb::DOUBLE) AS sev
        FROM pm),
      pe AS (
        SELECT *,
          (1.959964::DOUBLE + 0.841621::DOUBLE) * sev AS mde_abs_raw,
          abs(diffv) / sev - 1.959964::DOUBLE AS xarg
        FROM pd)
      SELECT na AS n_a, nb AS n_b,
        (round(ma, 6) + 0.0) AS mean_a,
        (round(mb, 6) + 0.0) AS mean_b,
        (round(diffv, 6) + 0.0) AS diff,
        (round(sev, 6) + 0.0) AS se,
        (round(mde_abs_raw, 6) + 0.0) AS mde_abs,
        CASE WHEN mb <> 0.0::DOUBLE
          THEN (round(mde_abs_raw / abs(mb), 6) + 0.0)
          ELSE NULL END AS mde_rel,
        (round(CASE WHEN xarg >= 0.0::DOUBLE
          THEN 1.0::DOUBLE
            - ${graft.functions.PValues
              .erfcSql("xarg / sqrt(2.0::DOUBLE)")} / 2.0::DOUBLE
          ELSE ${graft.functions.PValues
              .erfcSql("-xarg / sqrt(2.0::DOUBLE)")} / 2.0::DOUBLE
          END, 6) + 0.0) AS power_observed,
        CASE WHEN diffv <> 0.0::DOUBLE
          THEN CAST(ceil((1.959964::DOUBLE + 0.841621::DOUBLE)
            * (1.959964::DOUBLE + 0.841621::DOUBLE) * (va + vb)
            / (diffv * diffv)) AS BIGINT)
          ELSE NULL END AS n_per_arm_required
      FROM pe""",

    // Replay of Drift.yuenTrimmed: snapped-value count tables, window
    // cumulative, the four threshold-crossing boundary rows, exact
    // HUGEINT mid-range/winsorized moments, Yuen t/dof, ibeta p.
    "ab_yuen" -> {
      val (chain, fin) =
        graft.functions.PValues.ibetaRegSqlCtes("yu", "yu_pf",
          Seq("n_a", "n_b", "ga", "gb", "ha", "hb", "tma", "tmb",
            "sev", "tv2", "dofv"))
      s"""
      WITH yca AS (
        SELECT CAST(round(value::DOUBLE * 1048576.0) AS BIGINT)::DOUBLE
            AS v, count(*)::BIGINT AS na
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1),
      ycb AS (
        SELECT CAST(round(value::DOUBLE * 1048576.0) AS BIGINT)::DOUBLE
            AS v, count(*)::BIGINT AS nb
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
        GROUP BY 1),
      ym AS (
        SELECT coalesce(yca.v, ycb.v) AS v,
          coalesce(na, 0)::BIGINT AS na, coalesce(nb, 0)::BIGINT AS nb
        FROM yca FULL OUTER JOIN ycb ON yca.v = ycb.v),
      ycum AS (
        SELECT v, na, nb,
          sum(na) OVER (ORDER BY v)::BIGINT AS ca2,
          sum(nb) OVER (ORDER BY v)::BIGINT AS cb2
        FROM ym),
      ytot AS (
        SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b FROM ym),
      yg AS (
        SELECT n_a, n_b,
          CAST(floor(n_a::DOUBLE * 0.2::DOUBLE) AS BIGINT) AS ga,
          CAST(floor(n_b::DOUBLE * 0.2::DOUBLE) AS BIGINT) AS gb
        FROM ytot),
      yloa AS (SELECT c.v, c.ca2 - c.na AS below FROM ycum c, yg
        WHERE c.ca2 >= yg.ga + 1 AND c.ca2 - c.na < yg.ga + 1),
      yhia AS (SELECT c.v, yg.n_a - c.ca2 AS above FROM ycum c, yg
        WHERE c.ca2 >= yg.n_a - yg.ga AND c.ca2 - c.na < yg.n_a - yg.ga),
      ylob AS (SELECT c.v, c.cb2 - c.nb AS below FROM ycum c, yg
        WHERE c.cb2 >= yg.gb + 1 AND c.cb2 - c.nb < yg.gb + 1),
      yhib AS (SELECT c.v, yg.n_b - c.cb2 AS above FROM ycum c, yg
        WHERE c.cb2 >= yg.n_b - yg.gb AND c.cb2 - c.nb < yg.n_b - yg.gb),
      ymid AS (
        SELECT
          sum(CASE WHEN m.v >= yloa.v AND m.v <= yhia.v
            THEN CAST(m.v AS HUGEINT) * m.na ELSE 0 END) AS sma,
          sum(CASE WHEN m.v >= yloa.v AND m.v <= yhia.v
            THEN CAST(m.v AS HUGEINT) * CAST(m.v AS HUGEINT) * m.na
            ELSE 0 END) AS qma,
          sum(CASE WHEN m.v >= ylob.v AND m.v <= yhib.v
            THEN CAST(m.v AS HUGEINT) * m.nb ELSE 0 END) AS smb,
          sum(CASE WHEN m.v >= ylob.v AND m.v <= yhib.v
            THEN CAST(m.v AS HUGEINT) * CAST(m.v AS HUGEINT) * m.nb
            ELSE 0 END) AS qmb
        FROM ym m, yloa, yhia, ylob, yhib),
      yfp AS (
        SELECT yg.n_a, yg.n_b, yg.ga, yg.gb,
          yg.n_a - 2 * yg.ga AS ha, yg.n_b - 2 * yg.gb AS hb,
          (sma - (yg.ga - yloa.below) * CAST(yloa.v AS HUGEINT)
            - (yg.ga - yhia.above) * CAST(yhia.v AS HUGEINT)) AS tra,
          (smb - (yg.gb - ylob.below) * CAST(ylob.v AS HUGEINT)
            - (yg.gb - yhib.above) * CAST(yhib.v AS HUGEINT)) AS trb,
          (sma + yloa.below * CAST(yloa.v AS HUGEINT)
            + yhia.above * CAST(yhia.v AS HUGEINT)) AS wa,
          (smb + ylob.below * CAST(ylob.v AS HUGEINT)
            + yhib.above * CAST(yhib.v AS HUGEINT)) AS wb,
          (qma + yloa.below * CAST(yloa.v AS HUGEINT)
              * CAST(yloa.v AS HUGEINT)
            + yhia.above * CAST(yhia.v AS HUGEINT)
              * CAST(yhia.v AS HUGEINT)) AS w2a,
          (qmb + ylob.below * CAST(ylob.v AS HUGEINT)
              * CAST(ylob.v AS HUGEINT)
            + yhib.above * CAST(yhib.v AS HUGEINT)
              * CAST(yhib.v AS HUGEINT)) AS w2b
        FROM ymid, yg, yloa, yhia, ylob, yhib),
      ysd AS (
        SELECT *,
          tra::DOUBLE / 1048576.0 / ha::DOUBLE AS tma,
          trb::DOUBLE / 1048576.0 / hb::DOUBLE AS tmb,
          ((w2a::DOUBLE / 1048576.0 / 1048576.0
              - (wa::DOUBLE / 1048576.0) * (wa::DOUBLE / 1048576.0)
                / n_a::DOUBLE) / (n_a - 1)::DOUBLE)
            * (n_a - 1)::DOUBLE / (ha::DOUBLE * (ha - 1)::DOUBLE) AS da,
          ((w2b::DOUBLE / 1048576.0 / 1048576.0
              - (wb::DOUBLE / 1048576.0) * (wb::DOUBLE / 1048576.0)
                / n_b::DOUBLE) / (n_b - 1)::DOUBLE)
            * (n_b - 1)::DOUBLE / (hb::DOUBLE * (hb - 1)::DOUBLE) AS db
        FROM yfp),
      yst AS (
        SELECT n_a, n_b, ga, gb, ha, hb, tma, tmb, da, db,
          da + db AS se2,
          CASE WHEN da + db > 0.0::DOUBLE THEN sqrt(da + db)
            ELSE 0.0::DOUBLE END AS sev
        FROM ysd),
      ytd AS (
        SELECT *,
          CASE WHEN sev > 0.0::DOUBLE THEN (tma - tmb) / sev
            ELSE 0.0::DOUBLE END AS tv2,
          CASE WHEN se2 > 0.0::DOUBLE THEN 1.0::DOUBLE
            / ((da / se2) * (da / se2) / (ha - 1)::DOUBLE
              + (1.0::DOUBLE - da / se2) * (1.0::DOUBLE - da / se2)
                / (hb - 1)::DOUBLE)
          ELSE 0.0::DOUBLE END AS dofv
        FROM yst),
      yu_pf AS (
        SELECT n_a, n_b, ga, gb, ha, hb, tma, tmb, sev, tv2, dofv,
          CASE WHEN dofv > 0.0::DOUBLE
            THEN dofv / (dofv + tv2 * tv2) ELSE 0.5::DOUBLE END AS ib_x,
          CASE WHEN dofv > 0.0::DOUBLE THEN dofv / 2.0::DOUBLE
            ELSE 1.0::DOUBLE END AS ib_a,
          0.5::DOUBLE AS ib_b
        FROM ytd),
      $chain
      SELECT n_a, n_b, ga AS g_a, gb AS g_b, ha AS h_a, hb AS h_b,
        (round(tma, 6) + 0.0) AS tmean_a,
        (round(tmb, 6) + 0.0) AS tmean_b,
        (round(tma - tmb, 6) + 0.0) AS diff,
        (round(sev, 6) + 0.0) AS se,
        (round(tv2, 6) + 0.0) AS t,
        (round(dofv, 6) + 0.0) AS dof,
        (round(CASE WHEN dofv > 0.0::DOUBLE THEN ib_p
          ELSE 1.0::DOUBLE END, 6) + 0.0) AS p_t
      FROM $fin"""
    },

    // Replay of Drift.did: four exact fixed-point moment cells, the
    // 2x2 DiD arithmetic in the pinned order, erfc z p, ±1.959964 CI.
    "ab_did" -> s"""
      WITH du AS (
        SELECT 'g' || (user_id % 2)::VARCHAR AS arm,
          CASE WHEN (epoch_us(ts) // 3600000000) % 24 < 12
            THEN 'pre' ELSE 'post' END AS period,
          CAST(round(value::DOUBLE * 1048576.0) AS HUGEINT) AS fpx
        FROM events WHERE value IS NOT NULL),
      dc AS (
        SELECT arm, period, count(*)::BIGINT AS n,
          sum(fpx)::DOUBLE / 1048576.0 AS s,
          sum(fpx * fpx)::DOUBLE / 1048576.0 / 1048576.0 AS q
        FROM du GROUP BY 1, 2),
      dm AS (
        SELECT arm, period, n, s / n::DOUBLE AS m,
          ((q - s * s / n::DOUBLE) / (n - 1)::DOUBLE) / n::DOUBLE AS vn
        FROM dc),
      dx AS (
        SELECT tp.n AS ntp, tpo.n AS nto, cp.n AS ncp, cpo.n AS nco,
          tp.m AS mtp, tpo.m AS mto, cp.m AS mcp, cpo.m AS mco,
          (tpo.m - tp.m) - (cpo.m - cp.m) AS didv,
          tp.vn + tpo.vn + cp.vn + cpo.vn AS se2
        FROM (SELECT * FROM dm WHERE arm = 'g0' AND period = 'pre') tp,
          (SELECT * FROM dm WHERE arm = 'g0' AND period = 'post') tpo,
          (SELECT * FROM dm WHERE arm = 'g1' AND period = 'pre') cp,
          (SELECT * FROM dm WHERE arm = 'g1' AND period = 'post') cpo),
      dz AS (
        SELECT *,
          CASE WHEN se2 > 0.0::DOUBLE THEN sqrt(se2)
            ELSE 0.0::DOUBLE END AS sev
        FROM dx),
      dzz AS (
        SELECT *, CASE WHEN sev > 0.0::DOUBLE THEN didv / sev
          ELSE 0.0::DOUBLE END AS zraw
        FROM dz)
      SELECT ntp AS n_t_pre, nto AS n_t_post, ncp AS n_c_pre,
        nco AS n_c_post,
        (round(mtp, 6) + 0.0) AS mean_t_pre,
        (round(mto, 6) + 0.0) AS mean_t_post,
        (round(mcp, 6) + 0.0) AS mean_c_pre,
        (round(mco, 6) + 0.0) AS mean_c_post,
        (round(didv, 6) + 0.0) AS did,
        (round(sev, 6) + 0.0) AS se,
        (round(zraw, 6) + 0.0) AS z,
        (round(${graft.functions.PValues.pTwoSidedZSql("zraw")}, 6) + 0.0)
          AS p_value,
        (round(didv - 1.959964::DOUBLE * sev, 6) + 0.0) AS ci_lo,
        (round(didv + 1.959964::DOUBLE * sev, 6) + 0.0) AS ci_hi
      FROM dzz""",

    // Replay of Similarity.kcenter (k=6): min-id seed, five unrolled
    // farthest-point rounds over the 6dp squared-L2 min-distance state
    // (ties to the min vec_id), final cover radius.
    "embed_kcenter" -> {
      def dist(e: String, c: String): String =
        s"""(round(list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(generate_series(1, 64),
            i -> ($e.embedding[i]::DOUBLE - $c.cemb[i])
              * ($e.embedding[i]::DOUBLE - $c.cemb[i]))),
          (x, y) -> x + y), 6) + 0)"""
      val rounds = (2 to 6).map { r =>
        s"""kcp$r AS MATERIALIZED (
        SELECT vec_id AS cid, d AS sel FROM kcs${r - 1}
        ORDER BY d DESC, vec_id LIMIT 1),
      kce$r AS MATERIALIZED (
        SELECT p.cid, p.sel,
          list_transform(e.embedding, x -> x::DOUBLE) AS cemb
        FROM kcp$r p JOIN embeddings e ON e.vec_id = p.cid),
      kcs$r AS MATERIALIZED (
        SELECT s.vec_id, s.embedding,
          least(s.d, ${dist("s", s"kce$r")}) AS d
        FROM kcs${r - 1} s, kce$r)"""
      }.mkString(",\n      ")
      val rows = (2 to 6).map(r =>
        s"SELECT $r::BIGINT AS rank, kcp$r.cid AS center, kcp$r.sel AS sel_dist, kccov.coverage FROM kcp$r, kccov")
        .mkString("\n      UNION ALL ")
      s"""
      WITH kc0 AS (SELECT vec_id AS cid FROM embeddings
        ORDER BY vec_id LIMIT 1),
      kce1 AS MATERIALIZED (
        SELECT list_transform(e.embedding, x -> x::DOUBLE) AS cemb
        FROM embeddings e, kc0 WHERE e.vec_id = kc0.cid),
      kcs1 AS MATERIALIZED (
        SELECT e.vec_id, e.embedding, ${dist("e", "kce1")} AS d
        FROM embeddings e, kce1),
      $rounds,
      kccov AS (SELECT max(d) AS coverage FROM kcs6)
      SELECT 1::BIGINT AS rank, kc0.cid AS center,
        NULL::DOUBLE AS sel_dist, kccov.coverage
      FROM kc0, kccov
      UNION ALL $rows
      ORDER BY rank"""
    },

    // Replay of Drift.cmh: per-stratum exact 2x2 cells, the diff /
    // variance / OR terms snapped ×2^20 per stratum (order-insensitive
    // sums), chi2(1) survival on the one-row totals.
    "ab_cmh" -> s"""
      WITH su AS (
        SELECT ((user_id // 2) % 4)::VARCHAR AS seg,
          'g' || (user_id % 2)::VARCHAR AS arm,
          (event_type = 'purchase') AS succ
        FROM events),
      cells AS (
        SELECT seg, count(*)::BIGINT AS n,
          sum(CASE WHEN arm = 'g0' AND succ THEN 1 ELSE 0 END)::BIGINT
            AS n11,
          sum(CASE WHEN arm = 'g0' AND NOT succ THEN 1 ELSE 0 END)::BIGINT
            AS n12,
          sum(CASE WHEN arm = 'g1' AND succ THEN 1 ELSE 0 END)::BIGINT
            AS n21,
          sum(CASE WHEN arm = 'g1' AND NOT succ THEN 1 ELSE 0 END)::BIGINT
            AS n22
        FROM su GROUP BY 1),
      terms AS (
        SELECT n,
          CASE WHEN n >= 2 THEN CAST(round((n11::DOUBLE
            - (n11::DOUBLE + n12::DOUBLE) * (n11::DOUBLE + n21::DOUBLE)
              / n::DOUBLE) * 1048576.0) AS BIGINT) ELSE 0 END AS d6,
          CASE WHEN n >= 2 THEN CAST(round(
            (n11::DOUBLE + n12::DOUBLE) * (n21::DOUBLE + n22::DOUBLE)
              * (n11::DOUBLE + n21::DOUBLE) * (n12::DOUBLE + n22::DOUBLE)
              / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0::DOUBLE))
            * 1048576.0) AS BIGINT) ELSE 0 END AS v6,
          CASE WHEN n >= 2 THEN CAST(round(n11::DOUBLE * n22::DOUBLE
            / n::DOUBLE * 1048576.0) AS BIGINT) ELSE 0 END AS on6,
          CASE WHEN n >= 2 THEN CAST(round(n12::DOUBLE * n21::DOUBLE
            / n::DOUBLE * 1048576.0) AS BIGINT) ELSE 0 END AS od6
        FROM cells),
      tot AS (
        SELECT count(*)::BIGINT AS n_strata, sum(n)::BIGINT AS n,
          sum(d6)::BIGINT AS sd6, sum(v6)::BIGINT AS sv6,
          sum(on6)::BIGINT AS son6, sum(od6)::BIGINT AS sod6
        FROM terms),
      st AS (
        SELECT *, (sd6::DOUBLE / 1048576.0) * (sd6::DOUBLE / 1048576.0)
            / (sv6::DOUBLE / 1048576.0) AS chi2raw
        FROM tot)
      SELECT n_strata, n,
        CASE WHEN sv6 > 0 THEN (round(chi2raw, 6) + 0.0) END AS chi2,
        CASE WHEN sv6 > 0 THEN (round(
          ${graft.functions.PValues.chiSqSurvivalSql("st.chi2raw", 1)},
          6) + 0.0) ELSE 1.0::DOUBLE END AS p_value,
        CASE WHEN sod6 > 0
          THEN (round(son6::DOUBLE / sod6::DOUBLE, 6) + 0.0)
        END AS or_mh
      FROM st""",

    // Replay of Classify.mcnemar: four exact cells, (b−c)²/(b+c) and
    // the Edwards continuity correction, closed-form chi2(1) survival.
    "classify_mcnemar" -> {
      val p1 = graft.functions.PValues.chiSqSurvivalSql("mq.chi2raw", 1)
      val p2 = graft.functions.PValues.chiSqSurvivalSql("mq.chi2ccraw", 1)
      s"""
      WITH mc AS (
        SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)::BIGINT
            AS both_right,
          sum(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)::BIGINT
            AS both_wrong,
          sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)::BIGINT
            AS a_only,
          sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)::BIGINT
            AS b_only
        FROM (
          SELECT (doc_id % 3 = 0) AS y, (n_chars % 2 = 0) AS pa,
            (doc_id % 2 = 0) AS pb
          FROM documents)),
      mq AS (
        SELECT *,
          (a_only::DOUBLE - b_only::DOUBLE) * (a_only::DOUBLE
            - b_only::DOUBLE) / (a_only::DOUBLE + b_only::DOUBLE)
            AS chi2raw,
          CASE WHEN abs(a_only::DOUBLE - b_only::DOUBLE) > 1.0::DOUBLE
            THEN (abs(a_only::DOUBLE - b_only::DOUBLE) - 1.0::DOUBLE)
              * (abs(a_only::DOUBLE - b_only::DOUBLE) - 1.0::DOUBLE)
              / (a_only::DOUBLE + b_only::DOUBLE)
            ELSE 0.0::DOUBLE END AS chi2ccraw
        FROM mc)
      SELECT n, both_right, both_wrong, a_only, b_only,
        CASE WHEN a_only + b_only > 0
          THEN (round(chi2raw, 6) + 0.0) END AS chi2,
        CASE WHEN a_only + b_only > 0 THEN (round($p1, 6) + 0.0)
          ELSE 1.0::DOUBLE END AS p_value,
        CASE WHEN a_only + b_only > 0
          THEN (round(chi2ccraw, 6) + 0.0) END AS chi2_cc,
        CASE WHEN a_only + b_only > 0 THEN (round($p2, 6) + 0.0)
          ELSE 1.0::DOUBLE END AS p_cc
      FROM mq"""
    },

    // Replay of Classify.conformal: per-priority fixed-point mean
    // model, snapped calibration residuals, the exact cumulative-
    // crossing order statistic, held-out coverage as long compares.
    "classify_conformal" -> """
      WITH model AS (
        SELECT o_orderpriority,
          (sum(CAST(round(o_totalprice::DOUBLE * 1048576.0) AS BIGINT))::DOUBLE
            / count(*)::DOUBLE) / 1048576.0 AS yhat
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
      cal AS (
        SELECT abs(CAST(round(o_totalprice::DOUBLE * 1048576.0) AS BIGINT)
          - CAST(round(yhat * 1048576.0) AS BIGINT)) AS r
        FROM orders JOIN model USING (o_orderpriority)
        WHERE o_orderkey % 4 = 1),
      cc AS (SELECT r, count(*)::BIGINT AS c FROM cal GROUP BY 1),
      cum AS (SELECT r, c, sum(c) OVER (ORDER BY r)::BIGINT AS cm FROM cc),
      rk AS (
        SELECT sum(c)::BIGINT AS n_cal,
          least(sum(c)::BIGINT, CAST(ceil((sum(c)::BIGINT + 1)::DOUBLE
            * 0.9::DOUBLE) AS BIGINT)) AS rank
        FROM cc),
      q AS (SELECT cum.r AS qfp FROM cum, rk
        WHERE cum.cm >= rk.rank AND cum.cm - cum.c < rk.rank),
      tst AS (
        SELECT abs(CAST(round(o_totalprice::DOUBLE * 1048576.0) AS BIGINT)
          - CAST(round(yhat * 1048576.0) AS BIGINT)) AS r
        FROM orders JOIN model USING (o_orderpriority)
        WHERE o_orderkey % 4 = 3),
      cov AS (
        SELECT count(*)::BIGINT AS n_test,
          sum(CASE WHEN tst.r <= q.qfp THEN 1 ELSE 0 END)::BIGINT
            AS n_covered
        FROM tst, q)
      SELECT rk.n_cal, rk.rank,
        (round(q.qfp::DOUBLE / 1048576.0, 6) + 0.0) AS q,
        cov.n_test, cov.n_covered,
        CASE WHEN cov.n_test > 0
          THEN (round(cov.n_covered::DOUBLE / cov.n_test::DOUBLE, 6) + 0.0)
          ELSE NULL::DOUBLE END AS coverage
      FROM rk, q, cov""",

    // Replay of Drift.mutualInformation: occupied-cell counts, margin
    // rollups, per-cell/margin double terms, ×2^20 fixed-point sums.
    "profile_mi" -> """
      WITH o AS (
        SELECT coalesce(lang::VARCHAR, '(null)') AS x,
               coalesce(source::VARCHAR, '(null)') AS y,
               count(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2),
      rm AS (SELECT x, sum(o)::BIGINT AS rx FROM o GROUP BY 1),
      cm AS (SELECT y, sum(o)::BIGINT AS cy FROM o GROUP BY 1),
      t AS (SELECT sum(o)::BIGINT AS n FROM o),
      mi AS (
        SELECT sum(CAST(round((o.o::DOUBLE / t.n::DOUBLE)
          * ln(o.o::DOUBLE * t.n::DOUBLE
            / (rm.rx::DOUBLE * cm.cy::DOUBLE))
          * 1048576.0) AS BIGINT)) AS mifp
        FROM o JOIN rm USING (x) JOIN cm USING (y), t),
      hx AS (
        SELECT sum(CAST(round((rx::DOUBLE / t.n::DOUBLE)
          * -ln(rx::DOUBLE / t.n::DOUBLE) * 1048576.0) AS BIGINT)) AS h
        FROM rm, t),
      hy AS (
        SELECT sum(CAST(round((cy::DOUBLE / t.n::DOUBLE)
          * -ln(cy::DOUBLE / t.n::DOUBLE) * 1048576.0) AS BIGINT)) AS h
        FROM cm, t)
      SELECT t.n AS n,
        (SELECT count(*)::BIGINT FROM rm) AS n_x,
        (SELECT count(*)::BIGINT FROM cm) AS n_y,
        (round(mi.mifp::DOUBLE / 1048576.0, 6) + 0.0) AS mi,
        (round(hx.h::DOUBLE / 1048576.0, 6) + 0.0) AS h_x,
        (round(hy.h::DOUBLE / 1048576.0, 6) + 0.0) AS h_y,
        (round(CASE WHEN hx.h > 0 AND hy.h > 0
          THEN greatest(0.0::DOUBLE, mi.mifp::DOUBLE / 1048576.0)
            / sqrt((hx.h::DOUBLE / 1048576.0)
              * (hy.h::DOUBLE / 1048576.0))
          ELSE 0.0::DOUBLE END, 6) + 0.0) AS nmi
      FROM t, mi, hx, hy""",

    // Replay of TextAnalysis.distinctN: whitespace words, 1-based
    // inclusive slices == Spark slice(ws, i, n), sub-n docs contribute
    // no grams.
    "text_distinct_n" -> """
      WITH ws AS (
        SELECT lang::VARCHAR AS grp, string_split(text, ' ') AS w
        FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      g AS (
        SELECT grp, t.n, array_to_string(w[u.i : u.i + t.n - 1], ' ')
          AS gram
        FROM ws, (VALUES (1), (2), (3)) t(n),
          unnest(generate_series(1, len(w) - t.n + 1)) u(i)
        WHERE len(w) >= t.n),
      gc AS (
        SELECT grp, n, gram, count(*)::BIGINT AS c
        FROM g GROUP BY 1, 2, 3)
      SELECT grp, n::BIGINT AS n, sum(c)::BIGINT AS n_grams,
        count(*)::BIGINT AS n_distinct,
        round(count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS distinct_ratio
      FROM gc GROUP BY grp, n
      ORDER BY grp, n""",

    // Replay of Drift.bootstrapMeanCI: identical Poisson(1) inverse-CDF
    // thresholds (shared double literals), exact fixed-point resample
    // sums, quantile_cont == Spark percentile interpolation.
    "ab_bootstrap" -> s"""
      WITH v AS (
        SELECT event_id::VARCHAR AS id,
          round(value * 1048576.0)::BIGINT AS v
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      draws AS (
        SELECT t.b, v.v,
          ('0x'||substr(md5(v.id || ':' || t.b::VARCHAR || ':bs'),
            1, 8))::BIGINT::DOUBLE / 4294967296.0 AS u
        FROM v, generate_series(1, $AbPerms) t(b)),
      wt AS (
        SELECT b, v,
          (CASE WHEN u < ${graft.ops.Drift.PoissonCum(0)} THEN 0
            WHEN u < ${graft.ops.Drift.PoissonCum(1)} THEN 1
            WHEN u < ${graft.ops.Drift.PoissonCum(2)} THEN 2
            WHEN u < ${graft.ops.Drift.PoissonCum(3)} THEN 3
            WHEN u < ${graft.ops.Drift.PoissonCum(4)} THEN 4
            ELSE 5 END)::BIGINT AS w
        FROM draws),
      means AS (
        SELECT sum(w * v)::DOUBLE / sum(w)::DOUBLE / 1048576.0 AS m
        FROM wt GROUP BY b HAVING sum(w) > 0),
      base AS (
        SELECT count(*)::BIGINT AS n, sum(v) AS sv FROM v)
      SELECT base.n,
        (round(sv::DOUBLE / base.n / 1048576.0, 6) + 0.0) AS mean,
        (round(quantile_cont(m, 0.025), 6) + 0.0) AS ci_lo,
        (round(quantile_cont(m, 0.975), 6) + 0.0) AS ci_hi,
        count(*)::BIGINT AS n_boot
      FROM means, base GROUP BY base.n, sv""",

    // Replay of Drift.bootstrapLiftCI: both arms through the identical
    // hash-drawn Poisson weights, per-resample pinned mean difference,
    // quantile_cont interval (== Spark percentile).
    "ab_bootstrap_lift" -> s"""
      WITH va AS (
        SELECT event_id::VARCHAR AS id,
          round(value * 1048576.0)::BIGINT AS v, 0 AS g
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      vb AS (
        SELECT event_id::VARCHAR AS id,
          round(value * 1048576.0)::BIGINT AS v, 1 AS g
        FROM events WHERE event_type = 'click' AND value IS NOT NULL),
      v AS (SELECT * FROM va UNION ALL SELECT * FROM vb),
      draws AS (
        SELECT t.b, v.g, v.v,
          ('0x'||substr(md5(v.id || ':' || t.b::VARCHAR || ':bl'),
            1, 8))::BIGINT::DOUBLE / 4294967296.0 AS u
        FROM v, generate_series(1, $AbPerms) t(b)),
      wt AS (
        SELECT b, g, v,
          (CASE WHEN u < ${graft.ops.Drift.PoissonCum(0)} THEN 0
            WHEN u < ${graft.ops.Drift.PoissonCum(1)} THEN 1
            WHEN u < ${graft.ops.Drift.PoissonCum(2)} THEN 2
            WHEN u < ${graft.ops.Drift.PoissonCum(3)} THEN 3
            WHEN u < ${graft.ops.Drift.PoissonCum(4)} THEN 4
            ELSE 5 END)::BIGINT AS w
        FROM draws),
      d AS (
        SELECT b,
          sum(CASE WHEN g = 0 THEN w * v END)::DOUBLE
            / sum(CASE WHEN g = 0 THEN w ELSE 0 END)::DOUBLE / 1048576.0
          - sum(CASE WHEN g = 1 THEN w * v END)::DOUBLE
            / sum(CASE WHEN g = 1 THEN w ELSE 0 END)::DOUBLE / 1048576.0
            AS dd
        FROM wt GROUP BY b
        HAVING sum(CASE WHEN g = 0 THEN w ELSE 0 END) > 0
           AND sum(CASE WHEN g = 1 THEN w ELSE 0 END) > 0),
      base AS (SELECT
        (SELECT count(*) FROM va)::BIGINT AS na,
        (SELECT sum(v) FROM va) AS sa,
        (SELECT count(*) FROM vb)::BIGINT AS nb,
        (SELECT sum(v) FROM vb) AS sb),
      -- aggregate WITHOUT a join on d so an all-degenerate resample set
      -- yields ONE loud row (error), matching the operator's
      -- raise_error — never a silent zero-row shape
      ci AS (SELECT
        (round(quantile_cont(dd, 0.025), 6) + 0.0) AS ci_lo,
        (round(quantile_cont(dd, 0.975), 6) + 0.0) AS ci_hi,
        count(*)::BIGINT AS n_boot FROM d)
      SELECT na AS n_a, nb AS n_b,
        (round(sa::DOUBLE / na / 1048576.0
          - sb::DOUBLE / nb / 1048576.0, 6) + 0.0) AS lift,
        CASE WHEN n_boot = 0
          THEN error('ab_bootstrap_lift: every resample dropped')
          ELSE ci_lo END AS ci_lo,
        CASE WHEN n_boot = 0
          THEN error('ab_bootstrap_lift: every resample dropped')
          ELSE ci_hi END AS ci_hi,
        n_boot
      FROM ci, base""",

    // Replay of Drift.bhAdjust: same planted-vs-null p construction,
    // window rank (the oracle may globally sort; the operator may not),
    // step-up k* = max rank with p·m <= rank·alpha, reject rank <= k*.
    "ab_bh_adjust" -> """
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id < 20 THEN (doc_id + 1)::DOUBLE / 1e6
            ELSE ('0x'||substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
              / 4294967296.0 END AS p
        FROM documents),
      r AS (
        SELECT doc_id, p,
          row_number() OVER (ORDER BY p, doc_id)::BIGINT AS rank,
          count(*) OVER ()::BIGINT AS m
        FROM p),
      k AS (
        SELECT coalesce(max(CASE WHEN p * m <= rank * 0.05
          THEN rank END), 0) AS ks FROM r)
      SELECT doc_id, p, rank, rank <= ks AS reject
      FROM r, k ORDER BY doc_id""",

    // Replay of Drift.spearman: midranks cumExcl + (k+1)/2 (window in
    // the oracle, distributed CDF in the operator), then the
    // profile_corr fixed-point Pearson arithmetic over the midranks.
    "profile_spearman" -> """
      WITH s AS (
        SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      kx AS (SELECT x AS v, count(*)::BIGINT AS k FROM s GROUP BY 1),
      rx AS (SELECT v,
          (sum(k) OVER (ORDER BY v) - k)::DOUBLE
            + (k::DOUBLE + 1) / 2 AS mr FROM kx),
      ky AS (SELECT y AS v, count(*)::BIGINT AS k FROM s GROUP BY 1),
      ry AS (SELECT v,
          (sum(k) OVER (ORDER BY v) - k)::DOUBLE
            + (k::DOUBLE + 1) / 2 AS mr FROM ky),
      ranked AS (
        SELECT rx.mr AS a, ry.mr AS b
        FROM s JOIN rx ON s.x = rx.v JOIN ry ON s.y = ry.v),
      st AS (
        SELECT
          SUM(CAST(round(a * 1048576.0) AS DECIMAL(38,0))) AS sx,
          SUM(CAST(round(b * 1048576.0) AS DECIMAL(38,0))) AS sy,
          SUM(CAST(round(a * a * 1048576.0) AS DECIMAL(38,0))) AS sxx,
          SUM(CAST(round(b * b * 1048576.0) AS DECIMAL(38,0))) AS syy,
          SUM(CAST(round(a * b * 1048576.0) AS DECIMAL(38,0))) AS sxy,
          COUNT(*)::BIGINT AS n
        FROM ranked)
      SELECT n, round(CASE WHEN den > 0 THEN num / den ELSE 0 END, 6)
          + 0.0 AS rho
      FROM (
        SELECT n,
          n::DOUBLE * (sxy::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0) AS num,
          sqrt(greatest(n::DOUBLE * (sxx::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0), 0))
          * sqrt(greatest(n::DOUBLE * (syy::DOUBLE / 1048576.0)
            - (sy::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0), 0)) AS den
        FROM st)""",

    // Replay of Profile.linearFit: identical fixed-point sufficient
    // statistics and pinned final-double order.
    "regress_group" -> """
      WITH s AS (
        SELECT l_returnflag,
          sum(round(l_quantity::DOUBLE * 1048576.0)::HUGEINT) AS sx,
          sum(round(l_extendedprice::DOUBLE * 1048576.0)::HUGEINT) AS sy,
          sum(round(l_quantity::DOUBLE * l_quantity::DOUBLE
            * 1048576.0)::HUGEINT) AS sxx,
          sum(round(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE
            * 1048576.0)::HUGEINT) AS syy,
          sum(round(l_quantity::DOUBLE * l_extendedprice::DOUBLE
            * 1048576.0)::HUGEINT) AS sxy,
          count(*)::BIGINT AS n
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY l_returnflag),
      t AS (
        SELECT l_returnflag, n,
          n::DOUBLE * (sxy::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0) AS num,
          n::DOUBLE * (sxx::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0) AS vx,
          n::DOUBLE * (syy::DOUBLE / 1048576.0)
            - (sy::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0) AS vy,
          sx::DOUBLE / 1048576.0 AS dx, sy::DOUBLE / 1048576.0 AS dy
        FROM s)
      SELECT l_returnflag, n,
        (round(CASE WHEN vx > 0 THEN num / vx END, 6) + 0.0) AS slope,
        (round(CASE WHEN vx > 0
          THEN (dy - (num / vx) * dx) / n::DOUBLE END, 6) + 0.0)
          AS intercept,
        (round(CASE WHEN vx > 0 AND vy > 0
          THEN num * num / (vx * vy) END, 6) + 0.0) AS r2
      FROM t ORDER BY l_returnflag""",

    // Replay of Drift.meanPermutationTest: same raw 32-bit (pre-modulo)
    // label draws per permutation, exact fixed-point sums, integer
    // nA*2^32//n threshold (the uniform domain — see h32raw).
    "ab_permutation" -> s"""
      WITH u AS (
        SELECT 'a:' || event_id::VARCHAR AS id,
          round(value * 1048576.0)::BIGINT AS v, true AS ga
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        UNION ALL
        SELECT 'b:' || event_id::VARCHAR,
          round(value * 1048576.0)::BIGINT, false
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
      ), base AS (
        SELECT sum(CASE WHEN ga THEN 1 ELSE 0 END)::BIGINT AS na,
          sum(CASE WHEN ga THEN 0 ELSE 1 END)::BIGINT AS nb,
          sum(CASE WHEN ga THEN v ELSE 0 END) AS sa,
          sum(CASE WHEN NOT ga THEN v ELSE 0 END) AS sb
        FROM u
      ), obs AS (
        SELECT na, nb,
          sa::DOUBLE / na / 1048576.0 AS mean_a,
          sb::DOUBLE / nb / 1048576.0 AS mean_b,
          sa::DOUBLE / na / 1048576.0 - sb::DOUBLE / nb / 1048576.0 AS d,
          (na::HUGEINT * 4294967296 // (na + nb))::BIGINT AS thr
        FROM base
      ), pm AS (
        SELECT p,
          sum(CASE WHEN pa THEN 1 ELSE 0 END) AS pna,
          sum(CASE WHEN pa THEN 0 ELSE 1 END) AS pnb,
          sum(CASE WHEN pa THEN v ELSE 0 END) AS psa,
          sum(CASE WHEN NOT pa THEN v ELSE 0 END) AS psb
        FROM (
          SELECT u.v, t.p,
            ('0x'||substr(md5(u.id || ':' || t.p::VARCHAR || ':ab'),1,8))::BIGINT
              < (SELECT thr FROM obs) AS pa
          FROM u CROSS JOIN generate_series(1, $AbPerms) t(p))
        GROUP BY p
      ), ex AS (
        SELECT coalesce(sum(CASE WHEN pna = 0 OR pnb = 0 THEN 1
          WHEN abs(psa::DOUBLE / pna / 1048576.0
            - psb::DOUBLE / pnb / 1048576.0)
            >= (SELECT abs(d) FROM obs) THEN 1 ELSE 0 END), 0)::BIGINT
          AS n_extreme
        FROM pm)
      SELECT na AS n_a, nb AS n_b,
        (round(mean_a, 6) + 0) AS mean_a,
        (round(mean_b, 6) + 0) AS mean_b,
        (round(d, 6) + 0) AS diff,
        $AbPerms::BIGINT AS n_perms, n_extreme,
        round((n_extreme + 1)::DOUBLE / ($AbPerms + 1), 6) AS p_value
      FROM obs, ex""",

    // Replay of Behavior.kaplanMeier over the per-user lifetime gate:
    // suffix-sum at-risk counts, micro-nat-quantized step hazards, exact
    // long prefix sum, exp only at the end — the fixed-point convention.
    "events_survival" -> s"""
      WITH life AS (
        SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
        FROM events GROUP BY 1),
      mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
      units AS (
        SELECT CAST((l - f) // 3600000000 AS DOUBLE) AS duration,
          l < m - ${SurvivalCensorH * 3600000000L} AS obs
        FROM life, mx),
      steps AS (
        SELECT duration,
          SUM(CASE WHEN obs THEN 1 ELSE 0 END)::BIGINT AS n_events,
          SUM(CASE WHEN obs THEN 0 ELSE 1 END)::BIGINT AS n_censored
        FROM units GROUP BY 1),
      risk AS (
        SELECT *, SUM(n_events + n_censored) OVER (ORDER BY duration
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT
          AS n_risk
        FROM steps),
      haz AS (
        SELECT *, CASE WHEN n_events = 0 THEN 0
          WHEN n_events < n_risk THEN CAST(round(
            ln((n_risk - n_events)::DOUBLE / n_risk) * 1000000.0) AS BIGINT)
          ELSE NULL END AS lnstep
        FROM risk),
      cum AS (
        SELECT duration, n_risk, n_events, n_censored,
          MAX(CASE WHEN lnstep IS NULL THEN 1 ELSE 0 END)
            OVER (ORDER BY duration) AS dead,
          SUM(coalesce(lnstep, 0)) OVER (ORDER BY duration)::BIGINT AS c
        FROM haz)
      SELECT duration, n_risk, n_events, n_censored,
        CASE WHEN dead = 1 THEN 0.0
          ELSE round(exp(c::DOUBLE / 1000000.0), 6) + 0.0 END AS survival
      FROM cum ORDER BY duration""",

    // Replay of Drift.cuped over the user-parity split: DECIMAL(18,2)
    // per-user metric sums (exact), pooled theta/xbar from x2^20
    // fixed-point sufficient statistics, per-group adjusted means.
    "ab_cuped" -> s"""
      WITH mn AS (SELECT min(epoch_us(ts)) AS m FROM events),
      per_user AS (
        SELECT user_id,
          CAST(SUM(CASE WHEN epoch_us(ts) < m + ${CupedSplitDays * 86400000000L}
            THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS x,
          CAST(SUM(CASE WHEN epoch_us(ts) >= m + ${CupedSplitDays * 86400000000L}
            THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS y
        FROM events, mn GROUP BY user_id),
      units AS (
        SELECT 'g' || (user_id % 2)::VARCHAR AS grp, x, y FROM per_user),
      st AS (SELECT COUNT(*) AS n,
        SUM(CAST(round(x * 1048576.0) AS DECIMAL(38,0))) AS sx,
        SUM(CAST(round(y * 1048576.0) AS DECIMAL(38,0))) AS sy,
        SUM(CAST(round(x * x * 1048576.0) AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(round(x * y * 1048576.0) AS DECIMAL(38,0))) AS sxy
        FROM units),
      gl AS (SELECT
        CASE WHEN n::DOUBLE * (sxx::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0) > 0
          THEN (n::DOUBLE * (sxy::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0))
            / (n::DOUBLE * (sxx::DOUBLE / 1048576.0)
              - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0))
          ELSE 0 END AS theta,
        (sx::DOUBLE / 1048576.0) / n::DOUBLE AS xbar FROM st)
      SELECT grp AS "group", COUNT(*) AS n,
        round(SUM(CAST(round(x * 1048576.0) AS DECIMAL(38,0)))::DOUBLE
          / 1048576.0 / COUNT(*)::DOUBLE, 6) + 0.0 AS mean_pre,
        round(SUM(CAST(round(y * 1048576.0) AS DECIMAL(38,0)))::DOUBLE
          / 1048576.0 / COUNT(*)::DOUBLE, 6) + 0.0 AS mean_post,
        round(SUM(CAST(round((y - theta * (x - xbar)) * 1048576.0)
            AS DECIMAL(38,0)))::DOUBLE
          / 1048576.0 / COUNT(*)::DOUBLE, 6) + 0.0 AS mean_adjusted,
        round(theta, 6) + 0.0 AS theta
      FROM units, gl GROUP BY grp, theta, xbar ORDER BY 1""",

    // Replay of TextAnalysis.readability: [A-Za-z]+ word runs, [.!?]+
    // sentence runs (floor 1), [aeiouy]+ vowel groups per word (floor 1).
    "text_readability" -> """
      WITH syl AS (
        SELECT doc_id, SUM(greatest(
            len(regexp_extract_all(w, '[aeiouy]+')), 1))::BIGINT AS n_syl
        FROM (SELECT doc_id,
                unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents) t
        GROUP BY doc_id),
      base AS (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '[a-z]+'))::BIGINT AS n_words,
          greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
            AS n_sentences
        FROM documents)
      SELECT b.doc_id, b.n_words, b.n_sentences,
        coalesce(s.n_syl, 0) AS n_syllables,
        coalesce(round(b.n_words::DOUBLE / b.n_sentences, 6), 0.0)
          AS words_per_sentence,
        CASE WHEN b.n_words > 0
          THEN round(coalesce(s.n_syl, 0)::DOUBLE / b.n_words, 6)
          ELSE 0.0 END AS syllables_per_word,
        CASE WHEN b.n_words > 0
          THEN round(206.835 - 1.015 * (b.n_words::DOUBLE / b.n_sentences)
            - 84.6 * (coalesce(s.n_syl, 0)::DOUBLE / b.n_words), 4) + 0.0
          ELSE 0.0 END AS flesch
      FROM base b LEFT JOIN syl s ON b.doc_id = s.doc_id
      ORDER BY b.doc_id""",

    // Replay of TextAnalysis.zipfFit: top-N terms by (count desc, term),
    // ln-ln least squares through x2^20 fixed-point sufficient stats.
    // Replay of TextAnalysis.heapsLaw: id-bound checkpoints, cumulative
    // tokens as a below-bound sum, cumulative vocabulary as a count of
    // first-occurrence ids below the bound, then the zipf-convention
    // fixed-point log-log OLS repeated onto every checkpoint row.
    "text_heaps" -> s"""
      WITH base AS MATERIALIZED (
        SELECT doc_id AS id,
          len(list_filter(string_split(text, ' '), w -> len(w) > 0))
            ::BIGINT AS nt
        FROM documents),
      mx AS (SELECT max(id) AS mx FROM base),
      bounds AS MATERIALIZED (
        SELECT j AS ckpt, ((mx + 1) * j) // 10 AS bound
        FROM mx, unnest(generate_series(1, 10)) AS t(j)),
      tok AS (SELECT ckpt, sum(nt)::BIGINT AS n_tokens
        FROM base JOIN bounds ON base.id < bounds.bound GROUP BY ckpt),
      firsts AS MATERIALIZED (
        SELECT lower(w) AS w, min(doc_id) AS first
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != '' GROUP BY 1),
      voc AS (SELECT ckpt, count(*)::BIGINT AS vocab
        FROM firsts JOIN bounds ON firsts.first < bounds.bound
        GROUP BY ckpt),
      ck AS MATERIALIZED (
        SELECT b.ckpt::BIGINT AS ckpt,
          coalesce(n_tokens, 0)::BIGINT AS n_tokens,
          coalesce(vocab, 0)::BIGINT AS vocab
        FROM bounds b LEFT JOIN tok ON tok.ckpt = b.ckpt
        LEFT JOIN voc ON voc.ckpt = b.ckpt
        WHERE coalesce(n_tokens, 0) > 0 AND coalesce(vocab, 0) > 0),
      st AS (SELECT count(*) AS n,
        SUM(CAST(round(ln(n_tokens::DOUBLE) * 1048576.0)
          AS DECIMAL(38,0))) AS sx,
        SUM(CAST(round(ln(vocab::DOUBLE) * 1048576.0)
          AS DECIMAL(38,0))) AS sy,
        SUM(CAST(round(ln(n_tokens::DOUBLE) * ln(n_tokens::DOUBLE)
          * 1048576.0) AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(round(ln(n_tokens::DOUBLE) * ln(vocab::DOUBLE)
          * 1048576.0) AS DECIMAL(38,0))) AS sxy
        FROM ck),
      fit AS (SELECT
          round(CASE WHEN vx > 0 THEN sl ELSE 0 END, 6) + 0.0 AS beta,
          round(CASE WHEN vx > 0 THEN (syd - sl * sxd) / nd
            ELSE 0 END, 6) + 0.0 AS log_k
        FROM (SELECT n::DOUBLE AS nd,
            sx::DOUBLE / 1048576.0 AS sxd, sy::DOUBLE / 1048576.0 AS syd,
            n::DOUBLE * (sxx::DOUBLE / 1048576.0)
              - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0) AS vx,
            (n::DOUBLE * (sxy::DOUBLE / 1048576.0)
              - (sx::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0))
              / (n::DOUBLE * (sxx::DOUBLE / 1048576.0)
                - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0))
              AS sl
          FROM st))
      SELECT ckpt, n_tokens, vocab, beta, log_k
      FROM ck CROSS JOIN fit ORDER BY ckpt""",

    "text_zipf" -> s"""
      WITH wc AS (
        SELECT lower(w) AS w, count(*) AS c
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != '' GROUP BY 1),
      top AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r
        FROM wc ORDER BY c DESC, w ASC LIMIT $ZipfTopN),
      st AS (SELECT count(*) AS n,
        SUM(CAST(round(ln(r::DOUBLE) * 1048576.0) AS DECIMAL(38,0))) AS sx,
        SUM(CAST(round(ln(c::DOUBLE) * 1048576.0) AS DECIMAL(38,0))) AS sy,
        SUM(CAST(round(ln(r::DOUBLE) * ln(r::DOUBLE) * 1048576.0)
          AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(round(ln(r::DOUBLE) * ln(c::DOUBLE) * 1048576.0)
          AS DECIMAL(38,0))) AS sxy
        FROM top)
      SELECT n AS n_terms,
        round(CASE WHEN vx > 0 THEN sl ELSE 0 END, 6) + 0.0 AS slope,
        round(CASE WHEN vx > 0 THEN (syd - sl * sxd) / nd ELSE 0 END, 6)
          + 0.0 AS intercept
      FROM (SELECT n, n::DOUBLE AS nd,
          sx::DOUBLE / 1048576.0 AS sxd, sy::DOUBLE / 1048576.0 AS syd,
          n::DOUBLE * (sxx::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0) AS vx,
          (n::DOUBLE * (sxy::DOUBLE / 1048576.0)
            - (sx::DOUBLE / 1048576.0) * (sy::DOUBLE / 1048576.0))
            / (n::DOUBLE * (sxx::DOUBLE / 1048576.0)
              - (sx::DOUBLE / 1048576.0) * (sx::DOUBLE / 1048576.0)) AS sl
        FROM st)""",

    // Replay of Drift.srmCheck over the user-parity arms: exact arm
    // counts, designed share 0.5, per-arm chi2 terms as scalar doubles,
    // cross-arm sum through x2^20 fixed-point longs.
    // Replay of proportionsBySegment |> bhAdjust: per-segment exact arm
    // counts, pooled-SE z + erfc p per row, then the BH step-up over
    // the tested segments (rank by (p, segment); k* = max qualifying
    // rank; reject all ranks <= k*).
    "ab_segments" -> s"""
      WITH u AS (
        SELECT (((epoch_us(ts) // 3600000000) % 24) // 4)::VARCHAR
            AS segment,
          'g' || (user_id % 2)::VARCHAR AS arm,
          (event_type = 'purchase') AS s
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL),
      c AS (
        SELECT segment,
          sum(CASE WHEN arm = 'g0' THEN 1 ELSE 0 END)::BIGINT AS na,
          sum(CASE WHEN arm = 'g0' AND s THEN 1 ELSE 0 END)::BIGINT AS ka,
          sum(CASE WHEN arm = 'g1' THEN 1 ELSE 0 END)::BIGINT AS nb,
          sum(CASE WHEN arm = 'g1' AND s THEN 1 ELSE 0 END)::BIGINT AS kb
        FROM u GROUP BY 1),
      r0 AS (
        SELECT *, ka::DOUBLE / na::DOUBLE AS ra,
          kb::DOUBLE / nb::DOUBLE AS rb,
          (ka + kb)::DOUBLE / (na + nb)::DOUBLE AS pool
        FROM c),
      zz AS (
        SELECT *, CASE WHEN na > 0 AND nb > 0 THEN
            CASE WHEN pool * (1.0::DOUBLE - pool)
                * (1.0::DOUBLE / na::DOUBLE + 1.0::DOUBLE / nb::DOUBLE) > 0
              THEN (ra - rb) / sqrt(pool * (1.0::DOUBLE - pool)
                * (1.0::DOUBLE / na::DOUBLE + 1.0::DOUBLE / nb::DOUBLE))
              ELSE 0.0::DOUBLE END END AS zraw
        FROM r0),
      p AS (
        SELECT segment, na, ka, nb, kb,
          (round(CASE WHEN na > 0 THEN ra END, 6) + 0.0) AS rate_a,
          (round(CASE WHEN nb > 0 THEN rb END, 6) + 0.0) AS rate_b,
          (round(zraw, 6) + 0.0) AS z,
          (round(CASE WHEN zraw IS NOT NULL THEN
            ${graft.functions.PValues.pTwoSidedZSql("zraw")} END, 6)
            + 0.0) AS p_value
        FROM zz),
      rk AS (
        SELECT segment, p_value,
          row_number() OVER (ORDER BY p_value, segment)::BIGINT AS rank,
          count(*) OVER ()::BIGINT AS m
        FROM p WHERE p_value IS NOT NULL),
      ks AS (
        SELECT coalesce(max(CASE WHEN p_value * m::DOUBLE
            <= rank::DOUBLE * 0.05::DOUBLE THEN rank END), 0) AS kstar
        FROM rk)
      SELECT p.segment, p.na AS n_a, p.ka AS k_a, p.nb AS n_b,
        p.kb AS k_b, p.rate_a, p.rate_b, p.z, p.p_value,
        rk.rank, (rk.rank <= ks.kstar) AS reject
      FROM p LEFT JOIN rk USING (segment), ks
      ORDER BY p.segment""",

    // Replay of Drift.hodgesLehmann: distinct-value count tables,
    // weighted pairwise differences, cumulative weights ordered by
    // diff, the pinned Moses rank arithmetic (floor of the same double
    // expression), four order statistics in one pass.
    "ab_hodges_lehmann" -> """
      WITH va AS (
        SELECT round(value) AS v, count(*)::BIGINT AS wa
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1),
      vb AS (
        SELECT round(value) AS v, count(*)::BIGINT AS wb
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
        GROUP BY 1),
      tot AS (SELECT (SELECT sum(wa) FROM va)::BIGINT AS na,
        (SELECT sum(wb) FROM vb)::BIGINT AS nb),
      dd AS (
        SELECT va.v - vb.v AS dv, sum(va.wa * vb.wb)::BIGINT AS w
        FROM va, vb GROUP BY 1),
      cc AS (SELECT dv, sum(w) OVER (ORDER BY dv)::BIGINT AS cw FROM dd),
      ks AS (
        SELECT na, nb, na * nb AS n,
          (na * nb + 1) // 2 AS k1, (na * nb + 2) // 2 AS k2,
          greatest(1, floor((na * nb)::DOUBLE / 2.0::DOUBLE
            - 1.959964::DOUBLE * sqrt(na::DOUBLE * nb::DOUBLE
              * (na + nb + 1)::DOUBLE / 12.0::DOUBLE))::BIGINT) AS klo
        FROM tot),
      ks2 AS (SELECT *, least(n, n + 1 - klo) AS khi FROM ks),
      sel AS (
        SELECT ks2.na, ks2.nb, ks2.n,
          min(CASE WHEN cw >= k1 THEN dv END) AS d1,
          min(CASE WHEN cw >= k2 THEN dv END) AS d2,
          min(CASE WHEN cw >= klo THEN dv END) AS lo,
          min(CASE WHEN cw >= khi THEN dv END) AS hi
        FROM cc, ks2 GROUP BY 1, 2, 3)
      SELECT na AS n_a, nb AS n_b, n AS n_pairs,
        (round((d1 + d2) / 2.0::DOUBLE, 6) + 0.0) AS hl_shift,
        (round(lo, 6) + 0.0) AS ci_lo,
        (round(hi, 6) + 0.0) AS ci_hi
      FROM sel""",

    // Replay of Drift.welchBySegment ∘ bhAdjust: per-(segment, arm)
    // exact HUGEINT fixed-point moments, the welchT double arithmetic
    // per segment row, Student-t p via the incomplete-beta CTE chain
    // (segment passed through for the join-back), BH step-up over the
    // ROUNDED p (the operator ranks the reported column).
    "ab_welch_segments" -> s"""
      WITH u AS (
        SELECT (((epoch_us(ts) // 3600000000) % 24) // 4)::VARCHAR
            AS segment,
          (('g' || (user_id % 2)::VARCHAR) = 'g0') AS isa,
          CAST(round(value * 1048576.0) AS HUGEINT) AS fpx
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL),
      c AS (
        SELECT segment,
          sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS na,
          sum(CASE WHEN isa THEN fpx ELSE 0 END) AS sa0,
          sum(CASE WHEN isa THEN fpx * fpx ELSE 0 END) AS qa0,
          sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)::BIGINT AS nb,
          sum(CASE WHEN NOT isa THEN fpx ELSE 0 END) AS sb0,
          sum(CASE WHEN NOT isa THEN fpx * fpx ELSE 0 END) AS qb0
        FROM u GROUP BY 1),
      m AS (
        SELECT segment, na, nb,
          sa0::DOUBLE / 1048576.0 AS sa, sb0::DOUBLE / 1048576.0 AS sb,
          qa0::DOUBLE / 1048576.0 / 1048576.0 AS qa,
          qb0::DOUBLE / 1048576.0 / 1048576.0 AS qb
        FROM c),
      w AS (
        SELECT segment, na, nb,
          CASE WHEN na > 0 THEN sa / na::DOUBLE END AS ma,
          CASE WHEN nb > 0 THEN sb / nb::DOUBLE END AS mb,
          CASE WHEN na >= 2 THEN (qa - sa * sa / na::DOUBLE)
            / (na::DOUBLE - 1.0::DOUBLE) END AS va,
          CASE WHEN nb >= 2 THEN (qb - sb * sb / nb::DOUBLE)
            / (nb::DOUBLE - 1.0::DOUBLE) END AS vb
        FROM m),
      tt AS (
        SELECT *, va / na::DOUBLE + vb / nb::DOUBLE AS se2 FROM w),
      tc AS (
        SELECT *,
          CASE WHEN se2 > 0 THEN (ma - mb) / sqrt(se2)
            ELSE 0.0::DOUBLE END AS traw,
          CASE WHEN se2 > 0 THEN se2 * se2
            / ((va / na::DOUBLE) * (va / na::DOUBLE)
                / (na::DOUBLE - 1.0::DOUBLE)
              + (vb / nb::DOUBLE) * (vb / nb::DOUBLE)
                / (nb::DOUBLE - 1.0::DOUBLE))
            ELSE 0.0::DOUBLE END AS dofraw
        FROM tt),
      pf AS (
        SELECT segment,
          CASE WHEN na >= 2 AND nb >= 2 AND dofraw > 0
            THEN dofraw / (dofraw + traw * traw)
            ELSE 0.5::DOUBLE END AS ib_x,
          CASE WHEN na >= 2 AND nb >= 2 AND dofraw > 0
            THEN dofraw / 2.0::DOUBLE ELSE 1.0::DOUBLE END AS ib_a,
          0.5::DOUBLE AS ib_b
        FROM tc),
      ${graft.functions.PValues.ibetaRegSqlCtes("wsg", "pf",
        passCols = Seq("segment"))._1},
      pp AS (
        SELECT tc.*,
          (round(CASE WHEN tc.na >= 2 AND tc.nb >= 2 THEN
            CASE WHEN tc.dofraw > 0 THEN f.ib_p ELSE 1.0::DOUBLE END
          END, 6) + 0.0) AS praw
        FROM tc JOIN wsg_f f USING (segment)),
      rk AS (
        SELECT segment, praw,
          row_number() OVER (ORDER BY praw, segment)::BIGINT AS rank,
          count(*) OVER ()::BIGINT AS mm
        FROM pp WHERE praw IS NOT NULL),
      ks AS (
        SELECT coalesce(max(CASE WHEN praw * mm::DOUBLE
            <= rank::DOUBLE * 0.05::DOUBLE THEN rank END), 0) AS kstar
        FROM rk)
      SELECT pp.segment, pp.na AS n_a, pp.nb AS n_b,
        (round(pp.ma, 6) + 0.0) AS mean_a,
        (round(pp.mb, 6) + 0.0) AS mean_b,
        (round(pp.va, 6) + 0.0) AS var_a,
        (round(pp.vb, 6) + 0.0) AS var_b,
        (round(CASE WHEN pp.na >= 2 AND pp.nb >= 2 THEN pp.traw END, 6)
          + 0.0) AS t,
        (round(CASE WHEN pp.na >= 2 AND pp.nb >= 2 THEN pp.dofraw END, 6)
          + 0.0) AS dof,
        pp.praw AS p_t,
        rk.rank, (rk.rank <= ks.kstar) AS reject
      FROM pp LEFT JOIN rk USING (segment), ks
      ORDER BY pp.segment""",

    // Replay of Drift.sequentialMSPRT: exact cumulative arm counts
    // over the pinned 8-look schedule, the mixture-SPRT Λ in the
    // operator's pinned double order (√ and exp — the erfc libm
    // convention), running-min always-valid p, reject from the
    // UNROUNDED p_seq.
    "ab_sequential" -> """
      WITH u AS (
        SELECT (((epoch_us(ts) // 3600000000) % 24) // 3)::BIGINT AS look,
          (('g' || (user_id % 2)::VARCHAR) = 'g0') AS isa,
          (event_type = 'purchase') AS s
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL),
      per AS (
        SELECT look,
          sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS na,
          sum(CASE WHEN isa AND s THEN 1 ELSE 0 END)::BIGINT AS ka,
          sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)::BIGINT AS nb,
          sum(CASE WHEN NOT isa AND s THEN 1 ELSE 0 END)::BIGINT AS kb
        FROM u GROUP BY 1),
      cum AS (
        SELECT look,
          sum(na) OVER (ORDER BY look)::BIGINT AS cna,
          sum(ka) OVER (ORDER BY look)::BIGINT AS cka,
          sum(nb) OVER (ORDER BY look)::BIGINT AS cnb,
          sum(kb) OVER (ORDER BY look)::BIGINT AS ckb
        FROM per),
      st AS (
        SELECT *,
          CASE WHEN cna > 0 THEN cka::DOUBLE / cna::DOUBLE END AS ra,
          CASE WHEN cnb > 0 THEN ckb::DOUBLE / cnb::DOUBLE END AS rb
        FROM cum),
      vv AS (
        SELECT *,
          ra - rb AS theta,
          ra * (1.0::DOUBLE - ra) / cna::DOUBLE
            + rb * (1.0::DOUBLE - rb) / cnb::DOUBLE AS v
        FROM st),
      lm AS (
        SELECT *, CASE WHEN cna > 0 AND cnb > 0 AND v > 0
          THEN sqrt(v / (v + 0.01::DOUBLE))
            * exp((theta * theta * 0.01::DOUBLE)
              / (2.0::DOUBLE * v * (v + 0.01::DOUBLE))) END AS lam
        FROM vv),
      pr AS (
        SELECT *, CASE WHEN lam IS NOT NULL
          THEN least(1.0::DOUBLE, 1.0::DOUBLE / lam) END AS praw
        FROM lm),
      sq AS (
        SELECT *, min(praw) OVER (ORDER BY look) AS pseq FROM pr)
      SELECT look, cna AS n_a, cka AS k_a, cnb AS n_b, ckb AS k_b,
        (round(ra, 6) + 0.0) AS rate_a,
        (round(rb, 6) + 0.0) AS rate_b,
        (round(CASE WHEN cna > 0 AND cnb > 0 THEN theta END, 6) + 0.0)
          AS lift,
        (round(pseq, 6) + 0.0) AS p_seq,
        CASE WHEN pseq IS NOT NULL THEN pseq <= 0.05::DOUBLE END
          AS reject
      FROM sq ORDER BY look""",

    // Replay of Drift.sequentialMSPRTMean: cumulative HUGEINT
    // fixed-point moments, the welchT mean/variance doubles per look,
    // the mixture Λ at τ² = 1.0, running-min always-valid p.
    "ab_sequential_mean" -> """
      WITH u AS (
        SELECT (((epoch_us(ts) // 3600000000) % 24) // 3)::BIGINT AS look,
          (('g' || (user_id % 2)::VARCHAR) = 'g0') AS isa,
          CAST(round(value * 1048576.0) AS HUGEINT) AS fpx
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL),
      per AS (
        SELECT look,
          sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS na,
          sum(CASE WHEN isa THEN fpx ELSE 0 END) AS sa0,
          sum(CASE WHEN isa THEN fpx * fpx ELSE 0 END) AS qa0,
          sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)::BIGINT AS nb,
          sum(CASE WHEN NOT isa THEN fpx ELSE 0 END) AS sb0,
          sum(CASE WHEN NOT isa THEN fpx * fpx ELSE 0 END) AS qb0
        FROM u GROUP BY 1),
      cum AS (
        SELECT look,
          sum(na) OVER (ORDER BY look)::BIGINT AS cna,
          sum(sa0) OVER (ORDER BY look) AS csa,
          sum(qa0) OVER (ORDER BY look) AS cqa,
          sum(nb) OVER (ORDER BY look)::BIGINT AS cnb,
          sum(sb0) OVER (ORDER BY look) AS csb,
          sum(qb0) OVER (ORDER BY look) AS cqb
        FROM per),
      m AS (
        SELECT look, cna, cnb,
          csa::DOUBLE / 1048576.0 AS sa, csb::DOUBLE / 1048576.0 AS sb,
          cqa::DOUBLE / 1048576.0 / 1048576.0 AS qa,
          cqb::DOUBLE / 1048576.0 / 1048576.0 AS qb
        FROM cum),
      st AS (
        SELECT *,
          CASE WHEN cna > 0 THEN sa / cna::DOUBLE END AS ma,
          CASE WHEN cnb > 0 THEN sb / cnb::DOUBLE END AS mb,
          CASE WHEN cna >= 2 THEN (qa - sa * sa / cna::DOUBLE)
            / (cna::DOUBLE - 1.0::DOUBLE) END AS va,
          CASE WHEN cnb >= 2 THEN (qb - sb * sb / cnb::DOUBLE)
            / (cnb::DOUBLE - 1.0::DOUBLE) END AS vb
        FROM m),
      vv AS (
        SELECT *, ma - mb AS theta,
          va / cna::DOUBLE + vb / cnb::DOUBLE AS v
        FROM st),
      lm AS (
        SELECT *, CASE WHEN cna >= 2 AND cnb >= 2 THEN
          CASE WHEN v > 0
            THEN sqrt(v / (v + 1.0::DOUBLE))
              * exp((theta * theta * 1.0::DOUBLE)
                / (2.0::DOUBLE * v * (v + 1.0::DOUBLE))) END END AS lam
        FROM vv),
      pr AS (
        SELECT *, CASE WHEN lam IS NOT NULL
          THEN least(1.0::DOUBLE, 1.0::DOUBLE / lam) END AS praw
        FROM lm),
      sq AS (
        SELECT *, min(praw) OVER (ORDER BY look) AS pseq FROM pr)
      SELECT look, cna AS n_a, cnb AS n_b,
        (round(ma, 6) + 0.0) AS mean_a,
        (round(mb, 6) + 0.0) AS mean_b,
        (round(CASE WHEN cna > 0 AND cnb > 0 THEN theta END, 6) + 0.0)
          AS lift,
        (round(pseq, 6) + 0.0) AS p_seq,
        CASE WHEN pseq IS NOT NULL THEN pseq <= 0.05::DOUBLE END
          AS reject
      FROM sq ORDER BY look""",

    // Replay of Drift.proportionsZ: exact arm counts, pooled-SE z in
    // the operator's pinned double order, erfc p from the raw z, and
    // per-arm Wilson intervals at the 1.959964 two-sided 5% point.
    "ab_proportions" -> s"""
      WITH u AS (
        SELECT 'g' || (user_id % 2)::VARCHAR AS g,
          (event_type = 'purchase') AS s
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      c AS (
        SELECT g, count(*)::BIGINT AS n,
          sum(CASE WHEN s THEN 1 ELSE 0 END)::BIGINT AS k
        FROM u GROUP BY 1),
      m AS (
        -- LOUD on a missing arm (the operator throws; a silent
        -- NULL-filled row here would hide a broken fixture)
        SELECT
          coalesce((SELECT n FROM c WHERE g = 'g0'),
            error('ab_proportions: arm g0 has no rows')) AS na,
          coalesce((SELECT n FROM c WHERE g = 'g1'),
            error('ab_proportions: arm g1 has no rows')) AS nb,
          coalesce((SELECT k FROM c WHERE g = 'g0'),
            error('ab_proportions: arm g0 has no rows')) AS ka,
          coalesce((SELECT k FROM c WHERE g = 'g1'),
            error('ab_proportions: arm g1 has no rows')) AS kb),
      r AS (
        SELECT *, ka::DOUBLE / na::DOUBLE AS ra,
          kb::DOUBLE / nb::DOUBLE AS rb,
          (ka + kb)::DOUBLE / (na + nb)::DOUBLE AS pool
        FROM m),
      zz AS (
        SELECT *, CASE WHEN pool * (1.0::DOUBLE - pool)
            * (1.0::DOUBLE / na::DOUBLE + 1.0::DOUBLE / nb::DOUBLE) > 0
          THEN (ra - rb) / sqrt(pool * (1.0::DOUBLE - pool)
            * (1.0::DOUBLE / na::DOUBLE + 1.0::DOUBLE / nb::DOUBLE))
          ELSE 0.0::DOUBLE END AS zraw,
          (ra + (1.959964::DOUBLE * 1.959964::DOUBLE)
            / (2.0::DOUBLE * na::DOUBLE))
            / (1.0::DOUBLE + (1.959964::DOUBLE * 1.959964::DOUBLE)
              / na::DOUBLE) AS ca_c,
          1.959964::DOUBLE * sqrt(ra * (1.0::DOUBLE - ra) / na::DOUBLE
            + (1.959964::DOUBLE * 1.959964::DOUBLE)
              / (4.0::DOUBLE * na::DOUBLE * na::DOUBLE))
            / (1.0::DOUBLE + (1.959964::DOUBLE * 1.959964::DOUBLE)
              / na::DOUBLE) AS ca_h,
          (rb + (1.959964::DOUBLE * 1.959964::DOUBLE)
            / (2.0::DOUBLE * nb::DOUBLE))
            / (1.0::DOUBLE + (1.959964::DOUBLE * 1.959964::DOUBLE)
              / nb::DOUBLE) AS cb_c,
          1.959964::DOUBLE * sqrt(rb * (1.0::DOUBLE - rb) / nb::DOUBLE
            + (1.959964::DOUBLE * 1.959964::DOUBLE)
              / (4.0::DOUBLE * nb::DOUBLE * nb::DOUBLE))
            / (1.0::DOUBLE + (1.959964::DOUBLE * 1.959964::DOUBLE)
              / nb::DOUBLE) AS cb_h
        FROM r)
      SELECT na AS n_a, nb AS n_b, ka AS k_a, kb AS k_b,
        (round(ra, 6) + 0.0) AS rate_a,
        (round(rb, 6) + 0.0) AS rate_b,
        (round(ca_c - ca_h, 6) + 0.0) AS ci_a_lo,
        (round(ca_c + ca_h, 6) + 0.0) AS ci_a_hi,
        (round(cb_c - cb_h, 6) + 0.0) AS ci_b_lo,
        (round(cb_c + cb_h, 6) + 0.0) AS ci_b_hi,
        (round(ra - rb, 6) + 0.0) AS lift,
        (CASE WHEN rb > 0 THEN round((ra - rb) / rb, 6) + 0.0 END)
          AS lift_rel,
        (round(zraw, 6) + 0.0) AS z,
        (round(${graft.functions.PValues.pTwoSidedZSql("zraw")}, 6) + 0.0)
          AS p_value
      FROM zz""",

    "ab_srm" -> s"""
      WITH c AS (
        SELECT 'g' || (user_id % 2)::VARCHAR AS grp, count(*)::BIGINT AS n
        FROM events GROUP BY 1),
      tot AS (SELECT sum(n)::BIGINT AS t FROM c),
      terms AS (
        SELECT grp, n,
          0.5::DOUBLE * t::DOUBLE AS e,
          (n::DOUBLE - 0.5::DOUBLE * t::DOUBLE)
            * (n::DOUBLE - 0.5::DOUBLE * t::DOUBLE)
            / (0.5::DOUBLE * t::DOUBLE) AS term
        FROM c, tot),
      x AS (SELECT grp, n, e, term,
          SUM(CAST(round(term * 1048576.0) AS BIGINT)) OVER () AS cfp
        FROM terms),
      xc AS (SELECT *, cfp::DOUBLE / 1048576.0 AS chi2raw FROM x)
      SELECT grp AS "group", n, round(e, 6) + 0.0 AS expected_n,
        round(term, 6) + 0.0 AS chi2_term,
        round(chi2raw, 6) + 0.0 AS chi2,
        (SELECT count(*) - 1 FROM c)::BIGINT AS dof,
        (round(${graft.functions.PValues
          .chiSqSurvivalSql("xc.chi2raw", 1)}, 6) + 0.0) AS p_value,
        chi2raw > $SrmChi2Threshold::DOUBLE AS srm
      FROM xc ORDER BY 1""",

    // Replay of TimeSeries.changepoint over per-type hourly volumes:
    // exact x2^20 prefix sums, G(t) as one scalar double per split,
    // argmax with the earliest-split tie-break.
    "events_changepoint" -> """
      WITH s AS (
        SELECT event_type AS key, epoch_us(ts) // 3600000000 AS ord,
          count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2),
      p AS (
        SELECT key, ord,
          SUM(cnt * 1048576) OVER (PARTITION BY key ORDER BY ord)::BIGINT
            AS sl,
          row_number() OVER (PARTITION BY key ORDER BY ord)::BIGINT AS nl,
          SUM(cnt * 1048576) OVER (PARTITION BY key)::BIGINT AS s,
          count(*) OVER (PARTITION BY key)::BIGINT AS n
        FROM s),
      g AS (
        SELECT key, ord, nl, n - nl AS nr, sl, s, n,
          (sl * (n - nl) - (s - sl) * nl)::DOUBLE
            * (sl * (n - nl) - (s - sl) * nl)::DOUBLE
            / (nl::DOUBLE * (n - nl)::DOUBLE * n::DOUBLE)
            / 1099511627776 AS gg
        FROM p WHERE nl < n),
      r AS (SELECT *, row_number()
          OVER (PARTITION BY key ORDER BY gg DESC, ord ASC) AS rk
        FROM g)
      SELECT key, ord AS split_ord, nl AS n_left, nr AS n_right,
        round(sl::DOUBLE / 1048576 / nl::DOUBLE, 6) + 0.0 AS mean_left,
        round((s - sl)::DOUBLE / 1048576 / nr::DOUBLE, 6) + 0.0
          AS mean_right,
        round(gg, 6) + 0.0 AS score
      FROM r WHERE rk = 1 ORDER BY key""",

    // Replay of TextAnalysis.heavyChangers over the doc-parity halves:
    // exact term counts, scalar-double shares, |delta| top-k with the
    // term tie-break.
    "heavy_change" -> s"""
      WITH ta AS (
        SELECT lower(w) AS term, count(*)::BIGINT AS n_a
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != '' AND doc_id % 2 = 0 GROUP BY 1),
      tb AS (
        SELECT lower(w) AS term, count(*)::BIGINT AS n_b
        FROM documents, unnest(string_split(text, ' ')) AS t(w)
        WHERE w != '' AND doc_id % 2 = 1 GROUP BY 1),
      m AS (
        SELECT coalesce(ta.term, tb.term) AS term,
          coalesce(n_a, 0)::BIGINT AS n_a, coalesce(n_b, 0)::BIGINT AS n_b
        FROM ta FULL OUTER JOIN tb ON ta.term = tb.term),
      tot AS (SELECT (SELECT sum(n_a) FROM ta)::BIGINT AS tta,
                     (SELECT sum(n_b) FROM tb)::BIGINT AS ttb),
      d AS (
        SELECT term, n_a, n_b,
          n_a::DOUBLE / tta::DOUBLE AS sa,
          n_b::DOUBLE / ttb::DOUBLE AS sb,
          n_b::DOUBLE / ttb::DOUBLE - n_a::DOUBLE / tta::DOUBLE AS dd
        FROM m, tot)
      SELECT term, n_a, n_b, round(sa, 6) + 0.0 AS share_a,
        round(sb, 6) + 0.0 AS share_b, round(dd, 6) + 0.0 AS delta
      FROM d ORDER BY abs(dd) DESC, term ASC LIMIT $HeavyChangeK""",

    // Replay of Pii.pseudonymize + the per-surrogate rollup: identical
    // SHA-256 surrogates, exact DECIMAL sums cast to double.
    "pii_pseudonym" -> s"""
      SELECT substr(sha256('$PseudoSalt:' || user_id::VARCHAR), 1, 16)
          AS user_key,
        count(*)::BIGINT AS n,
        sum(value::DECIMAL(18,2))::DOUBLE AS value_sum
      FROM events GROUP BY 1 ORDER BY 1""",

    "drift_ks" -> s"""
      WITH av AS (SELECT o_totalprice AS v, count(*) AS na FROM orders
                  WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'
                  GROUP BY 1),
           bv AS (SELECT o_totalprice AS v, count(*) AS nb FROM orders
                  WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'
                  GROUP BY 1),
           m AS (SELECT coalesce(av.v, bv.v) AS v,
                        coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
                 FROM av FULL JOIN bv ON av.v = bv.v),
           t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM m),
           c AS (SELECT v, sum(na) OVER (ORDER BY v) AS ca,
                        sum(nb) OVER (ORDER BY v) AS cb FROM m),
           dd AS (SELECT v,
                    abs(CAST(ca AS HUGEINT) * (SELECT tb FROM t)
                      - CAST(cb AS HUGEINT) * (SELECT ta FROM t)) AS d_num
                  FROM c)
      SELECT v AS split_value,
        CAST((SELECT ta FROM t) AS BIGINT) AS n_a,
        CAST((SELECT tb FROM t) AS BIGINT) AS n_b,
        CAST(d_num AS DOUBLE) AS d_num,
        CAST(d_num AS DOUBLE)
          / (CAST((SELECT ta FROM t) AS DOUBLE)
            * CAST((SELECT tb FROM t) AS DOUBLE)) AS d
      FROM dd ORDER BY dd.d_num DESC, v LIMIT 1""",

    // drift_ks plus the Smirnov asymptotic p: lambda = d*sqrt(na*nb/n),
    // 100-term Kolmogorov series accumulated SEQUENTIALLY (list_reduce —
    // a bare sum() has no order guarantee), clamp to [0,1], 6dp.
    // lambda < 0.04 pins p = 1.0 (truncation-safe degenerate regime —
    // the same cut as Drift.ksTest).
    "drift_ks_test" -> s"""
      WITH av AS (SELECT o_totalprice AS v, count(*) AS na FROM orders
                  WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'
                  GROUP BY 1),
           bv AS (SELECT o_totalprice AS v, count(*) AS nb FROM orders
                  WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'
                  GROUP BY 1),
           m AS (SELECT coalesce(av.v, bv.v) AS v,
                        coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
                 FROM av FULL JOIN bv ON av.v = bv.v),
           t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM m),
           c AS (SELECT v, sum(na) OVER (ORDER BY v) AS ca,
                        sum(nb) OVER (ORDER BY v) AS cb FROM m),
           dd AS (SELECT v,
                    abs(CAST(ca AS HUGEINT) * (SELECT tb FROM t)
                      - CAST(cb AS HUGEINT) * (SELECT ta FROM t)) AS d_num
                  FROM c),
           best AS (
             SELECT v AS split_value,
               CAST((SELECT ta FROM t) AS BIGINT) AS n_a,
               CAST((SELECT tb FROM t) AS BIGINT) AS n_b,
               CAST(d_num AS DOUBLE) AS d_num,
               CAST(d_num AS DOUBLE)
                 / (CAST((SELECT ta FROM t) AS DOUBLE)
                   * CAST((SELECT tb FROM t) AS DOUBLE)) AS d
             FROM dd ORDER BY dd.d_num DESC, v LIMIT 1),
           lam AS (
             SELECT *, d * sqrt(n_a::DOUBLE * n_b::DOUBLE
               / (n_a + n_b)::DOUBLE) AS l
             FROM best)
      SELECT split_value, n_a, n_b, d_num, d,
        (round(l, 6) + 0.0) AS lambda,
        (CASE WHEN l < 0.04 THEN 1.0::DOUBLE ELSE
          (round(least(1.0::DOUBLE, greatest(0.0::DOUBLE,
            2.0 * list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(generate_series(1, 100),
                k -> (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                  * exp((-2.0 * k * k)::DOUBLE * l * l))),
              (a, b) -> a + b))), 6) + 0.0) END) AS p_value
      FROM lam""",

    // Replay of Drift.ksByGroup: per-(group, value) counts, per-group
    // window CDF, exact HUGEINT numerators, argmax ties to the
    // smallest value, Smirnov lambda + the sequential 100-term
    // Kolmogorov series per group (lambda < 0.04 pins p = 1).
    "drift_ks_grouped" -> s"""
      WITH av AS (
        SELECT o_orderpriority::VARCHAR AS grp, o_totalprice::DOUBLE AS v,
          count(*)::BIGINT AS na
        FROM orders
        WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'
          AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1, 2),
      bv AS (
        SELECT o_orderpriority::VARCHAR AS grp, o_totalprice::DOUBLE AS v,
          count(*)::BIGINT AS nb
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'
          AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1, 2),
      m AS (
        SELECT coalesce(av.grp, bv.grp) AS grp, coalesce(av.v, bv.v) AS v,
          coalesce(na, 0)::BIGINT AS na, coalesce(nb, 0)::BIGINT AS nb
        FROM av FULL JOIN bv ON av.grp = bv.grp AND av.v = bv.v),
      t AS (SELECT grp, sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb
            FROM m GROUP BY 1),
      c AS (
        SELECT grp, v,
          sum(na) OVER (PARTITION BY grp ORDER BY v) AS ca,
          sum(nb) OVER (PARTITION BY grp ORDER BY v) AS cb
        FROM m),
      dd AS (
        SELECT c.grp, c.v, t.ta, t.tb,
          abs(CAST(ca AS HUGEINT) * t.tb - CAST(cb AS HUGEINT) * t.ta)
            AS dnum
        FROM c JOIN t USING (grp)),
      best AS (
        SELECT grp, ta, tb, v, dnum,
          row_number() OVER (PARTITION BY grp ORDER BY dnum DESC, v ASC)
            AS rk
        FROM dd),
      lam AS (
        SELECT grp, ta AS n_a, tb AS n_b,
          CASE WHEN ta > 0 AND tb > 0 THEN v END AS split_value,
          CASE WHEN ta > 0 AND tb > 0 THEN dnum::DOUBLE END AS d_num,
          CASE WHEN ta > 0 AND tb > 0
            THEN dnum::DOUBLE / (ta::DOUBLE * tb::DOUBLE) END AS d,
          CASE WHEN ta > 0 AND tb > 0
            THEN dnum::DOUBLE / (ta::DOUBLE * tb::DOUBLE)
              * sqrt(ta::DOUBLE * tb::DOUBLE / (ta + tb)::DOUBLE) END AS l
        FROM best WHERE rk = 1)
      SELECT grp, n_a, n_b, split_value, d_num, d,
        (round(l, 6) + 0.0) AS lambda,
        (CASE WHEN l IS NULL THEN NULL
          WHEN l < 0.04 THEN 1.0::DOUBLE
          ELSE (round(least(1.0::DOUBLE, greatest(0.0::DOUBLE,
            2.0 * list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(generate_series(1, 100),
                k -> (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                  * exp((-2.0 * k * k)::DOUBLE * l * l))),
              (a, b) -> a + b))), 6) + 0.0) END) AS p_value
      FROM lam ORDER BY grp""",

    // Replay of Drift.wassersteinByGroup: per-group window CDF + lead,
    // exact HUGEINT numerators, per-row double contributions summed as
    // x2^20 fixed-point longs per group.
    "drift_wasserstein_grouped" -> s"""
      WITH av AS (
        SELECT o_orderpriority::VARCHAR AS grp, o_totalprice::DOUBLE AS v,
          count(*)::BIGINT AS na
        FROM orders
        WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'
          AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1, 2),
      bv AS (
        SELECT o_orderpriority::VARCHAR AS grp, o_totalprice::DOUBLE AS v,
          count(*)::BIGINT AS nb
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'
          AND o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1, 2),
      m AS (
        SELECT coalesce(av.grp, bv.grp) AS grp, coalesce(av.v, bv.v) AS v,
          coalesce(na, 0)::BIGINT AS na, coalesce(nb, 0)::BIGINT AS nb
        FROM av FULL JOIN bv ON av.grp = bv.grp AND av.v = bv.v),
      t AS (SELECT grp, sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb,
              count(*)::BIGINT AS nv
            FROM m GROUP BY 1),
      c AS (
        SELECT grp, v,
          sum(na) OVER (PARTITION BY grp ORDER BY v) AS ca,
          sum(nb) OVER (PARTITION BY grp ORDER BY v) AS cb,
          lead(v) OVER (PARTITION BY grp ORDER BY v) AS nextv
        FROM m),
      s AS (
        SELECT c.grp,
          sum(CASE WHEN t.ta > 0 AND t.tb > 0 THEN CAST(round(
            abs(CAST(ca AS HUGEINT) * t.tb - CAST(cb AS HUGEINT) * t.ta)
              ::DOUBLE
            / (t.ta::DOUBLE * t.tb::DOUBLE) * (nextv - v) * 1048576.0)
            AS BIGINT) END)::BIGINT AS fp
        FROM c JOIN t USING (grp)
        WHERE nextv IS NOT NULL GROUP BY 1)
      SELECT t.grp, t.ta AS n_a, t.tb AS n_b, t.nv AS n_values,
        (round(CASE WHEN t.ta > 0 AND t.tb > 0
          THEN coalesce(s.fp, 0)::DOUBLE / 1048576.0 END, 6) + 0.0) AS w1
      FROM t LEFT JOIN s USING (grp) ORDER BY grp""",

    // Replay of Drift.psi: quantile_cont bins fitted on the reference
    // half (== Spark percentile), first-bound-<= assignment,
    // epsilon-clamped shares, ×2^20 fixed-point term sum.
    "drift_psi" -> psiOracleSql,

    // The streaming monitor's accumulated store must replay the batch
    // PSI bit-for-bit — the drift_psi oracle VERBATIM (same split,
    // same bounds convention).
    "streaming_drift" -> psiOracleSql,

    // Replay of Drift.jensenShannon: exact category counts, one double
    // KL-term pair per category against the midpoint mix, ×2^20 sums;
    // ln 2 rides as the Scala-computed literal.
    "drift_jsd" -> s"""
      WITH ca AS (
        SELECT coalesce(event_type::VARCHAR, '(null)') AS category,
          count(*)::BIGINT AS n_a
        FROM events WHERE ts < TIMESTAMP '$DriftEventSplit' GROUP BY 1),
      cb AS (
        SELECT coalesce(event_type::VARCHAR, '(null)') AS category,
          count(*)::BIGINT AS n_b
        FROM events WHERE ts >= TIMESTAMP '$DriftEventSplit' GROUP BY 1),
      j AS (
        SELECT coalesce(ca.category, cb.category) AS category,
          coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        FROM ca FULL JOIN cb ON ca.category = cb.category),
      t AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb,
        count(*)::BIGINT AS k FROM j),
      terms AS (
        SELECT CAST(round((
          CASE WHEN n_a > 0 THEN (n_a::DOUBLE / ta::DOUBLE)
            * ln((n_a::DOUBLE / ta::DOUBLE)
              / ((n_a::DOUBLE / ta::DOUBLE
                + n_b::DOUBLE / tb::DOUBLE) / 2))
            ELSE 0.0::DOUBLE END
          + CASE WHEN n_b > 0 THEN (n_b::DOUBLE / tb::DOUBLE)
            * ln((n_b::DOUBLE / tb::DOUBLE)
              / ((n_a::DOUBLE / ta::DOUBLE
                + n_b::DOUBLE / tb::DOUBLE) / 2))
            ELSE 0.0::DOUBLE END) * 1048576.0) AS BIGINT) AS tt
        FROM j, t),
      s AS (SELECT sum(tt) AS fp FROM terms)
      SELECT t.ta AS n_a, t.tb AS n_b, t.k AS n_categories,
        (round(s.fp::DOUBLE / 1048576.0 / 2.0, 6) + 0.0) AS jsd,
        (round(s.fp::DOUBLE / 1048576.0 / 2.0 / ${math.log(2.0)}, 6)
          + 0.0) AS jsd_norm
      FROM s, t""",

    // Replay of Drift.wasserstein1: merged per-value counts, window
    // CDF + lead (the oracle may window; the engine may not), exact
    // HUGEINT |cumA·NB − cumB·NA| numerators, ×2^20 contribution sum.
    "drift_wasserstein" -> s"""
      WITH av AS (SELECT o_totalprice::DOUBLE AS v, count(*)::BIGINT AS na
                  FROM orders
                  WHERE o_orderdate < TIMESTAMP '$DriftSplitDate'
                    AND o_totalprice IS NOT NULL GROUP BY 1),
      bv AS (SELECT o_totalprice::DOUBLE AS v, count(*)::BIGINT AS nb
             FROM orders
             WHERE o_orderdate >= TIMESTAMP '$DriftSplitDate'
               AND o_totalprice IS NOT NULL GROUP BY 1),
      m AS (SELECT coalesce(av.v, bv.v) AS v,
              coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
            FROM av FULL JOIN bv ON av.v = bv.v),
      t AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb,
        count(*)::BIGINT AS k FROM m),
      c AS (SELECT v, sum(na) OVER (ORDER BY v) AS ca,
              sum(nb) OVER (ORDER BY v) AS cb,
              lead(v) OVER (ORDER BY v) AS nextv FROM m),
      terms AS (
        SELECT CAST(round(
          abs(CAST(ca AS HUGEINT) * (SELECT tb FROM t)
            - CAST(cb AS HUGEINT) * (SELECT ta FROM t))::DOUBLE
          / ((SELECT ta FROM t)::DOUBLE * (SELECT tb FROM t)::DOUBLE)
          * (nextv - v) * 1048576.0) AS BIGINT) AS tt
        FROM c WHERE nextv IS NOT NULL)
      SELECT (SELECT ta FROM t) AS n_a, (SELECT tb FROM t) AS n_b,
        (SELECT k FROM t) AS n_values,
        (round(sum(tt)::DOUBLE / 1048576.0, 6) + 0.0) AS w1
      FROM terms""",

    // Replay of Drift.categoricalDrift: grouped counts, NULL-safe
    // full-outer category merge, exact HUGEINT L1 numerators.
    "drift_tv" -> s"""
      WITH ca AS (SELECT event_type AS category, count(*) AS n_a
                  FROM events WHERE ts < TIMESTAMP '$DriftEventSplit'
                  GROUP BY 1),
           cb AS (SELECT event_type AS category, count(*) AS n_b
                  FROM events WHERE ts >= TIMESTAMP '$DriftEventSplit'
                  GROUP BY 1),
           j AS (SELECT coalesce(ca.category, cb.category) AS category,
                        coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
                 FROM ca FULL JOIN cb
                 ON ca.category IS NOT DISTINCT FROM cb.category),
           t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j)
      SELECT category, n_a, n_b,
        CAST(n_a AS DOUBLE) / (SELECT ta FROM t) AS share_a,
        CAST(n_b AS DOUBLE) / (SELECT tb FROM t) AS share_b,
        CAST(abs(CAST(n_a AS HUGEINT) * (SELECT tb FROM t)
               - CAST(n_b AS HUGEINT) * (SELECT ta FROM t))
          AS DOUBLE) AS l1_num,
        CAST(abs(CAST(n_a AS HUGEINT) * (SELECT tb FROM t)
               - CAST(n_b AS HUGEINT) * (SELECT ta FROM t)) AS DOUBLE)
          / (CAST((SELECT ta FROM t) AS DOUBLE)
            * CAST((SELECT tb FROM t) AS DOUBLE)) AS delta
      FROM j ORDER BY category""",

    // Replay of Drift.centroidDrift: the embed_standardize x2^20
    // DECIMAL(38,0) fixed-point sums, split on vec_id parity, keyed
    // (label, dim).
    "drift_centroid" -> """
      WITH x AS (
        SELECT label::BIGINT AS label, vec_id % 2 AS g, d,
          embedding[d]::DOUBLE AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) t(d)),
      s AS (
        SELECT label, d,
          SUM(CASE WHEN g = 0
            THEN CAST(round(v * 1048576.0) AS DECIMAL(38,0)) END) AS sa,
          SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS na,
          SUM(CASE WHEN g = 1
            THEN CAST(round(v * 1048576.0) AS DECIMAL(38,0)) END) AS sb,
          SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS nb
        FROM x GROUP BY label, d)
      SELECT label, d - 1 AS d,
        CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        round(abs(sa::DOUBLE / na - sb::DOUBLE / nb) / 1048576.0, 6)
          AS delta
      FROM s WHERE na > 0 AND nb > 0 ORDER BY label, d""",

    // Replay of DataQuality.referentialCheck: each FK is a left join
    // against the parent's distinct non-null keys; NULL child keys are
    // counted, not violations.
    "dq_referential" -> """
      WITH r1 AS (
        SELECT 'lineitem_orders' AS fk_name, count(*) AS n_rows,
          sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS n_null_keys,
          sum(CASE WHEN l_orderkey IS NOT NULL AND pk IS NULL
            THEN 1 ELSE 0 END) AS n_orphan_rows,
          count(DISTINCT CASE WHEN l_orderkey IS NOT NULL AND pk IS NULL
            THEN l_orderkey END) AS n_orphan_keys
        FROM lineitem LEFT JOIN (
          SELECT DISTINCT o_orderkey AS pk FROM orders
          WHERE o_orderkey IS NOT NULL) p ON l_orderkey = pk),
      r2 AS (
        SELECT 'lineitem_part' AS fk_name, count(*) AS n_rows,
          sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
            AS n_null_keys,
          sum(CASE WHEN l_partkey IS NOT NULL AND pk IS NULL
            THEN 1 ELSE 0 END) AS n_orphan_rows,
          count(DISTINCT CASE WHEN l_partkey IS NOT NULL AND pk IS NULL
            THEN l_partkey END) AS n_orphan_keys
        FROM lineitem LEFT JOIN (
          SELECT DISTINCT p_partkey AS pk FROM part
          WHERE p_partkey IS NOT NULL) p ON l_partkey = pk),
      r3 AS (
        SELECT 'orders_open_customer' AS fk_name, count(*) AS n_rows,
          sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
            AS n_null_keys,
          sum(CASE WHEN o_custkey IS NOT NULL AND pk IS NULL
            THEN 1 ELSE 0 END) AS n_orphan_rows,
          count(DISTINCT CASE WHEN o_custkey IS NOT NULL AND pk IS NULL
            THEN o_custkey END) AS n_orphan_keys
        FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') o
        LEFT JOIN (
          SELECT DISTINCT c_custkey AS pk FROM customer
          WHERE c_custkey IS NOT NULL) p ON o_custkey = pk),
      r4 AS (
        SELECT 'lineitem_orders_closed' AS fk_name, count(*) AS n_rows,
          sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS n_null_keys,
          sum(CASE WHEN l_orderkey IS NOT NULL AND pk IS NULL
            THEN 1 ELSE 0 END) AS n_orphan_rows,
          count(DISTINCT CASE WHEN l_orderkey IS NOT NULL AND pk IS NULL
            THEN l_orderkey END) AS n_orphan_keys
        FROM lineitem LEFT JOIN (
          SELECT DISTINCT o_orderkey AS pk FROM orders
          WHERE o_orderstatus <> 'O' AND o_orderkey IS NOT NULL) p
          ON l_orderkey = pk),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
      SELECT fk_name, n_rows,
        CAST(n_null_keys AS BIGINT) AS n_null_keys,
        CAST(n_orphan_rows AS BIGINT) AS n_orphan_rows, n_orphan_keys,
        CAST(n_orphan_rows AS DOUBLE) / (n_rows - n_null_keys)
          AS orphan_rate
      FROM u ORDER BY fk_name""",

    // Replay of DataQuality.fdCheck on l_partkey -> l_suppkey.
    "dq_fd" -> """
      WITH p AS (SELECT l_partkey, l_suppkey, count(*) AS n
                 FROM lineitem GROUP BY 1, 2),
           g AS (SELECT l_partkey, count(*) AS imgs, sum(n) AS nr
                 FROM p GROUP BY 1)
      SELECT count(*) AS n_groups,
        CAST(sum(CASE WHEN imgs > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating_groups,
        CAST(sum(nr) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN imgs > 1 THEN nr ELSE 0 END) AS BIGINT)
          AS n_rows_in_violating,
        CAST(sum(CASE WHEN imgs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*) AS violation_rate
      FROM g""",

    // Replay of Profile.benford: string-first digit of the truncated
    // integer part; expected shares are the SAME Scala-computed double
    // literals the Spark plan carries (no engine evaluates a log).
    "profile_benford" -> {
      // string-cast: a bare decimal literal lands as DECIMAL(p,s) in
      // DuckDB (even under CAST .. AS DOUBLE the literal parses decimal
      // FIRST), whose double conversion drifts a ulp from the Scala
      // literal; the VARCHAR->DOUBLE path is strtod, exact round-trip
      val exp = (1 to 9)
        .map(d => s"($d, CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE))")
        .mkString(", ")
      s"""
      WITH v AS (SELECT abs(o_totalprice) AS av FROM orders
                 WHERE abs(o_totalprice) >= 1),
           c AS (SELECT CAST(substr(CAST(CAST(floor(av) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INT) AS digit,
                 count(*) AS n FROM v GROUP BY 1),
           t AS (SELECT sum(n) AS tot FROM c),
           e AS (SELECT * FROM (VALUES $exp) AS e(digit, expected_share))
      SELECT c.digit, c.n,
        CAST(c.n AS DOUBLE) / (SELECT tot FROM t) AS share,
        e.expected_share,
        CAST(c.n AS DOUBLE) / (SELECT tot FROM t) - e.expected_share
          AS deviation
      FROM c JOIN e ON e.digit = c.digit ORDER BY c.digit"""
    },

    // Replay of Sampling.systematicWeighted: cumulative weights over the
    // (h32(id ++ salt), id) axis, slot boundaries as exact HUGEINT
    // products — floor division is plain // on positive operands.
    "sample_systematic" -> s"""
      WITH w AS (SELECT doc_id, n_chars AS weight,
             ('0x'||substr(md5(doc_id::VARCHAR || '$SysSalt'),1,8))::BIGINT
               % $P AS h
           FROM documents WHERE n_chars > 0),
      c AS (SELECT doc_id, weight,
              sum(weight) OVER (ORDER BY h, doc_id) AS cum FROM w),
      t AS (SELECT sum(weight) AS tot FROM w),
      s AS (SELECT doc_id, weight,
              (CAST(cum AS HUGEINT) * $SysSlots) // (SELECT tot FROM t)
              - (CAST(cum - weight AS HUGEINT) * $SysSlots)
                // (SELECT tot FROM t) AS n_slots
            FROM c)
      SELECT doc_id, weight, CAST(n_slots AS BIGINT) AS n_slots
      FROM s WHERE n_slots >= 1 ORDER BY doc_id""",

    // Replay of Behavior.rateCap: hour buckets from floored epoch
    // seconds, first-k by (ts, event_id) per (user, bucket).
    "events_rate_cap" -> s"""
      WITH r AS (
        SELECT event_id, user_id, ts,
          CAST(floor(epoch(ts) / $RateCapBucketSec) AS BIGINT) AS b,
          row_number() OVER (
            PARTITION BY user_id,
              CAST(floor(epoch(ts) / $RateCapBucketSec) AS BIGINT)
            ORDER BY ts, event_id) AS slot
        FROM events)
      SELECT event_id, user_id,
        CAST(to_timestamp(b * $RateCapBucketSec) AS TIMESTAMP)
          AS bucket_start,
        CAST(slot AS BIGINT) AS slot
      FROM r WHERE slot <= $RateCapK ORDER BY event_id""",

    // Replay of TextAnalysis.bpeLearnMerges: the same separator-framed
    // symbol strings (chr(31) frames), per-round pair counts, argmax with
    // (cnt desc, a, b) tie order, and left-to-right replace application —
    // one CTE trio per round, generated for BpeMergeRounds rounds.
    "bpe_merges" -> {
      val rounds = BpeMergeRounds
      def pairs(src: String, i: Int) =
        s"""p$i AS (SELECT ss[i] AS a, ss[i+1] AS b, sum(wn)::BIGINT AS cnt
          FROM (SELECT list_filter(string_split(e, chr(31)),
                  x -> x <> '') AS ss, wn FROM $src) s,
            unnest(generate_series(1, len(ss) - 1)) AS t(i)
          GROUP BY 1, 2),
        m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)"""
      def apply(src: String, i: Int) =
        s"""w$i AS (SELECT replace(e,
            chr(31)||(SELECT a FROM m$i)||chr(31)
              ||chr(31)||(SELECT b FROM m$i)||chr(31),
            chr(31)||(SELECT a FROM m$i)||(SELECT b FROM m$i)||chr(31))
          AS e, wn FROM $src)"""
      val ctes = (1 to rounds).map { i =>
        val src = if (i == 1) "wc" else s"w${i - 1}"
        if (i < rounds) pairs(src, i) + ",\n" + apply(src, i)
        else pairs(src, i)
      }.mkString(",\n")
      val rows = (1 to rounds).map(i =>
        s"SELECT $i::BIGINT AS merge_round, a AS left_sym, b AS right_sym, a||b AS merged, cnt FROM m$i")
        .mkString("\nUNION ALL ")
      s"""
      WITH wc AS (
        SELECT regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS e,
          count(*)::BIGINT AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE length(w) >= 2 AND w NOT LIKE '%'||chr(31)||'%'
        GROUP BY 1),
      $ctes
      $rows
      ORDER BY merge_round"""
    },

    // Replay of ByteBpe.learn: the bpe_merges framed loop over BYTE-hex
    // symbols — every non-empty word participates (no length or
    // separator filter; hex cannot collide with chr(31)).
    "bytebpe_merges" -> {
      val rounds = ByteBpeRounds
      def pairs(src: String, i: Int) =
        s"""bbp$i AS MATERIALIZED (
          SELECT ss[i] AS a, ss[i+1] AS b, sum(wn)::BIGINT AS cnt
          FROM (SELECT list_filter(string_split(e, chr(31)),
                  x -> x <> '') AS ss, wn FROM $src) s,
            unnest(generate_series(1, len(ss) - 1)) AS t(i)
          GROUP BY 1, 2),
        bbm$i AS MATERIALIZED (
          SELECT a, b, cnt FROM bbp$i ORDER BY cnt DESC, a, b LIMIT 1)"""
      def apply(src: String, i: Int) =
        s"""bbw$i AS MATERIALIZED (SELECT replace(e,
            chr(31)||(SELECT a FROM bbm$i)||chr(31)
              ||chr(31)||(SELECT b FROM bbm$i)||chr(31),
            chr(31)||(SELECT a FROM bbm$i)||(SELECT b FROM bbm$i)||chr(31))
          AS e, wn FROM $src)"""
      val ctes = (1 to rounds).map { i =>
        val src = if (i == 1) "bbc" else s"bbw${i - 1}"
        if (i < rounds) pairs(src, i) + ",\n" + apply(src, i)
        else pairs(src, i)
      }.mkString(",\n")
      val rows = (1 to rounds).map(i =>
        s"SELECT $i::BIGINT AS merge_round, a AS left_sym, b AS right_sym, a||b AS merged, cnt FROM bbm$i")
        .mkString("\nUNION ALL ")
      s"""
      WITH bbc AS (
        SELECT ${byteFramedSql("w")} AS e, count(*)::BIGINT AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE length(w) >= 1
        GROUP BY 1),
      $ctes
      $rows
      ORDER BY merge_round"""
    },

    // Replay of Wordpiece.learn: the bpe_merges framed-string loop plus
    // per-round symbol counts; argmax by the raw double likelihood
    // score cnt(ab)/(cnt(a)·cnt(b)), ties (a, b) ascending.
    "wordpiece_merges" -> {
      val rounds = WpRounds
      // every per-round CTE is MATERIALIZED: DuckDB re-evaluates plain
      // CTEs per reference, and wpm$i is referenced four times by the
      // apply step — unmaterialized, the chain re-derives the whole
      // upstream per reference and goes exponential in rounds
      def round(src: String, i: Int) =
        s"""wpq$i AS MATERIALIZED (SELECT list_filter(string_split(e, chr(31)),
              x -> x <> '') AS ss, wn FROM $src),
        wps$i AS MATERIALIZED (SELECT ss[i] AS s, sum(wn)::BIGINT AS scnt
          FROM wpq$i, unnest(generate_series(1, len(ss))) AS t(i)
          GROUP BY 1),
        wpp$i AS MATERIALIZED (SELECT ss[i] AS a, ss[i+1] AS b,
            sum(wn)::BIGINT AS cnt
          FROM wpq$i, unnest(generate_series(1, len(ss) - 1)) AS t(i)
          GROUP BY 1, 2),
        wpm$i AS MATERIALIZED (SELECT p.a, p.b, p.cnt,
            p.cnt::DOUBLE / (sa.scnt::DOUBLE * sb.scnt::DOUBLE) AS score
          FROM wpp$i p JOIN wps$i sa ON sa.s = p.a
            JOIN wps$i sb ON sb.s = p.b
          ORDER BY score DESC, p.a, p.b LIMIT 1)"""
      def apply(src: String, i: Int) =
        s"""wpw$i AS MATERIALIZED (SELECT replace(e,
            chr(31)||(SELECT a FROM wpm$i)||chr(31)
              ||chr(31)||(SELECT b FROM wpm$i)||chr(31),
            chr(31)||(SELECT a FROM wpm$i)||(SELECT b FROM wpm$i)||chr(31))
          AS e, wn FROM $src)"""
      val ctes = (1 to rounds).map { i =>
        val src = if (i == 1) "wpc" else s"wpw${i - 1}"
        if (i < rounds) round(src, i) + ",\n" + apply(src, i)
        else round(src, i)
      }.mkString(",\n")
      val rows = (1 to rounds).map(i =>
        s"SELECT $i::BIGINT AS merge_round, a AS left_sym, b AS right_sym, a||b AS merged, cnt, (round(score, 6) + 0.0) AS score FROM wpm$i")
        .mkString("\nUNION ALL ")
      s"""
      WITH wpc AS (
        SELECT regexp_replace(w, '(.)', chr(31)||'\\1'||chr(31), 'g') AS e,
          count(*)::BIGINT AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE length(w) >= 2 AND w NOT LIKE '%'||chr(31)||'%'
        GROUP BY 1),
      $ctes
      $rows
      ORDER BY merge_round"""
    },

    // Replay of Wordpiece.encode: the greedy chained CTEs over the
    // distinct-word table, per-doc multiplicity join-back.
    "wordpiece_encode" -> s"""
      WITH wpv(p) AS (VALUES $wpVocabValues),
      wdm AS (
        SELECT doc_id, w, count(*)::BIGINT AS m FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) >= 1 GROUP BY 1, 2),
      wdu AS MATERIALIZED (SELECT DISTINCT w FROM wdm),
      ${wpGreedySql("e", "wdu", "wpv")}
      SELECT doc_id, sum(m)::BIGINT AS n_words,
        sum(m * tok)::BIGINT AS n_tokens,
        sum(m * CASE WHEN unk THEN 1 ELSE 0 END)::BIGINT AS n_unk
      FROM wdm JOIN wfine USING (w) GROUP BY 1 ORDER BY doc_id""",

    // Replay of Wordpiece.fertility: same greedy DP, grouped by lang.
    "wordpiece_fertility" -> s"""
      WITH wpv(p) AS (VALUES $wpVocabValues),
      wgm AS (
        SELECT lang AS "group", w, count(*)::BIGINT AS m FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w
          FROM documents)
        WHERE length(w) >= 1 GROUP BY 1, 2),
      wnd AS (SELECT lang AS "group", count(*)::BIGINT AS n_docs
              FROM documents GROUP BY 1),
      wdu AS MATERIALIZED (SELECT DISTINCT w FROM wgm),
      ${wpGreedySql("f", "wdu", "wpv")},
      wagg AS (
        SELECT "group", sum(m)::BIGINT AS n_words,
          sum(m * tok)::BIGINT AS n_tokens,
          sum(m * CASE WHEN unk THEN 1 ELSE 0 END)::BIGINT AS n_unk
        FROM wgm JOIN wfinf USING (w) GROUP BY 1)
      SELECT a."group", wnd.n_docs, a.n_words, a.n_tokens, a.n_unk,
        round(a.n_tokens::DOUBLE / a.n_words::DOUBLE, 6) AS fertility,
        round(a.n_unk::DOUBLE / a.n_words::DOUBLE, 6) AS unk_rate
      FROM wagg a JOIN wnd USING ("group") ORDER BY a."group"""",

    // Replay of the snapshot_timetravel read: version 1's content is the
    // closed-orders subset regardless of later versions.
    "snapshot_timetravel" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderstatus = 'F' ORDER BY o_orderkey""",

    "snapshot_versions" -> """
      SELECT 1::BIGINT AS version,
        (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS n_rows
      UNION ALL
      SELECT 2::BIGINT, (SELECT count(*) FROM orders)
      ORDER BY version""",

    // Replay of Graph.neighborhoodSizes: the shared HLL register/estimate
    // CTEs keyed by node, two register-merge rounds along the edges, and
    // the exact 2-hop BFS union as calibration.
    "graph_ball" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem WHERE l_orderkey % 10 = 0),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      nodes AS (SELECT DISTINCT a AS node FROM sym),
      h0 AS (SELECT node,
               ('0x'||substr(md5(node::VARCHAR),1,8))::BIGINT % $P AS h
             FROM nodes),
      ${hllRegCte("h0", "r0", "node")},
      r1 AS (SELECT node, b, max(m) AS m FROM (
               SELECT node, b, m FROM r0
               UNION ALL
               SELECT s.a AS node, r.b, r.m
               FROM sym s JOIN r0 r ON r.node = s.b)
             GROUP BY 1, 2),
      r2 AS (SELECT node, b, max(m) AS m FROM (
               SELECT node, b, m FROM r1
               UNION ALL
               SELECT s.a AS node, r.b, r.m
               FROM sym s JOIN r1 r ON r.node = s.b)
             GROUP BY 1, 2),
      ${hllEstCte("r2", "est", "node")},
      two AS (SELECT s1.a AS start, s2.b AS x
              FROM sym s1 JOIN sym s2 ON s2.a = s1.b),
      reach AS (SELECT node AS start, node AS x FROM nodes
                UNION SELECT a AS start, b AS x FROM sym
                UNION SELECT start, x FROM two),
      ex AS (SELECT start AS node, count(*)::BIGINT AS exact_ball
             FROM reach GROUP BY 1)
      SELECT ex.node, ex.exact_ball, est.e AS ball_estimate
      FROM ex JOIN est USING (node) ORDER BY ex.node""",

    // Replay of Graph.harmonicCentrality: the graph_ball register chain
    // with estimates at EVERY radius (e0 = {v}, e1, e2), harmonic =
    // ascending-radius fold of clamped deltas; exact side = first-visit
    // BFS distances with the fixed-point (x2^20) reciprocal sum.
    "graph_harmonic" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem WHERE l_orderkey % 10 = 0),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      nodes AS (SELECT DISTINCT a AS node FROM sym),
      h0 AS (SELECT node,
               ('0x'||substr(md5(node::VARCHAR),1,8))::BIGINT % $P AS h
             FROM nodes),
      ${hllRegCte("h0", "r0", "node")},
      r1 AS (SELECT node, b, max(m) AS m FROM (
               SELECT node, b, m FROM r0
               UNION ALL
               SELECT s.a AS node, r.b, r.m
               FROM sym s JOIN r0 r ON r.node = s.b)
             GROUP BY 1, 2),
      r2 AS (SELECT node, b, max(m) AS m FROM (
               SELECT node, b, m FROM r1
               UNION ALL
               SELECT s.a AS node, r.b, r.m
               FROM sym s JOIN r1 r ON r.node = s.b)
             GROUP BY 1, 2),
      ${hllEstCte("r0", "e0", "node")},
      ${hllEstCte("r1", "e1", "node")},
      ${hllEstCte("r2", "e2", "node")},
      est AS (
        SELECT e0.node,
          greatest(e1.e - e0.e, 0.0) / 1.0
            + greatest(e2.e - e1.e, 0.0) / 2.0 AS harmonic_estimate
        FROM e0 JOIN e1 ON e1.node = e0.node JOIN e2 ON e2.node = e0.node),
      d1 AS (SELECT a AS start, b AS x FROM sym),
      two AS (SELECT DISTINCT s1.a AS start, s2.b AS x
              FROM sym s1 JOIN sym s2 ON s2.a = s1.b),
      new2 AS (SELECT t.start, t.x FROM two t
               WHERE t.x != t.start AND NOT EXISTS (
                 SELECT 1 FROM d1
                 WHERE d1.start = t.start AND d1.x = t.x)),
      n1 AS (SELECT start, count(*)::BIGINT AS c1 FROM d1 GROUP BY 1),
      n2 AS (SELECT start, count(*)::BIGINT AS c2 FROM new2 GROUP BY 1),
      ex AS (SELECT n1.start AS node,
               round((n1.c1 * 1048576 + coalesce(n2.c2, 0) * 524288)::DOUBLE
                 / 1048576.0, 4) AS harmonic_exact
             FROM n1 LEFT JOIN n2 USING (start))
      SELECT ex.node, ex.harmonic_exact, est.harmonic_estimate
      FROM ex JOIN est USING (node) ORDER BY ex.node""",

    // Replay of Graph.neighborhoodFunction: the same register chain,
    // per-radius totals through the exact fixed-point (x2^20) long sum,
    // cumulative fraction against the largest radius.
    "graph_nf" -> s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem WHERE l_orderkey % 10 = 0),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      nodes AS (SELECT DISTINCT a AS node FROM sym),
      h0 AS (SELECT node,
               ('0x'||substr(md5(node::VARCHAR),1,8))::BIGINT % $P AS h
             FROM nodes),
      ${hllRegCte("h0", "r0", "node")},
      r1 AS (SELECT node, b, max(m) AS m FROM (
               SELECT node, b, m FROM r0
               UNION ALL
               SELECT s.a AS node, r.b, r.m
               FROM sym s JOIN r0 r ON r.node = s.b)
             GROUP BY 1, 2),
      r2 AS (SELECT node, b, max(m) AS m FROM (
               SELECT node, b, m FROM r1
               UNION ALL
               SELECT s.a AS node, r.b, r.m
               FROM sym s JOIN r1 r ON r.node = s.b)
             GROUP BY 1, 2),
      ${hllEstCte("r0", "e0", "node")},
      ${hllEstCte("r1", "e1", "node")},
      ${hllEstCte("r2", "e2", "node")},
      u AS (
        SELECT 0::BIGINT AS r, round(sum(CAST(round(e * 1048576.0) AS BIGINT))::DOUBLE
          / 1048576.0, 4) AS pairs_est FROM e0
        UNION ALL
        SELECT 1::BIGINT, round(sum(CAST(round(e * 1048576.0) AS BIGINT))::DOUBLE
          / 1048576.0, 4) FROM e1
        UNION ALL
        SELECT 2::BIGINT, round(sum(CAST(round(e * 1048576.0) AS BIGINT))::DOUBLE
          / 1048576.0, 4) FROM e2),
      tot AS (SELECT pairs_est AS t FROM u WHERE r = 2)
      SELECT r, pairs_est, (round(pairs_est / t, 6) + 0) AS frac
      FROM u, tot ORDER BY r""",

    // Replay of Graph.deterministicWalks: same co-occurrence edges as
    // triangle_count, sorted adjacency lists, neighbor index
    // h32(start|step|salt) mod degree — one CTE per step.
    "graph_walks" -> {
      def step(i: Int, src: String) =
        s"""w$i AS (SELECT start,
          nbrs[CAST(('0x'||substr(md5(start::VARCHAR || '|$i|$WalkSalt'),
              1, 8))::BIGINT % $P % len(nbrs) AS INT) + 1] AS cur
          FROM $src JOIN adj ON adj.node = $src.cur)"""
      val steps = (1 to WalkLen)
        .map(i => step(i, if (i == 1) "w0" else s"w${i - 1}"))
        .mkString(",\n")
      val rows = (s"SELECT start, 0::BIGINT AS step, start AS node FROM w0"
        +: (1 to WalkLen).map(i =>
          s"SELECT start, $i::BIGINT, cur FROM w$i"))
        .mkString("\nUNION ALL ")
      s"""
      WITH g AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS n
                 FROM lineitem),
      sized AS (SELECT *, count(*) OVER (PARTITION BY g) AS gn FROM g),
      kept AS (SELECT g, n FROM sized WHERE gn <= $TriMaxGroup),
      und AS (SELECT DISTINCT x.n AS a, y.n AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.n < y.n),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
      adj AS (SELECT a AS node, list_sort(list(b)) AS nbrs
              FROM sym GROUP BY 1),
      w0 AS (SELECT node AS start, node AS cur FROM adj),
      $steps
      $rows
      ORDER BY start, step"""
    }
  )
}
