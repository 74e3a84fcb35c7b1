package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._
import graft.functions.{TextFunctions => T}
import graft.pipeline._

/** Deduplication operators for LLM-training-data pipelines (SURVEY §2.3).
  *
  * Four strategies, all shuffle-bounded and all-pairs-free — designed for
  * the 100 TB case where any cartesian formulation is disqualifying:
  *
  *  - exact:     hash-partition on the dedup key, keep one winner per group
  *               (window row_number). One shuffle on the key.
  *  - MinHash:   shingle → k-permutation MinHash signature (narrow, codegen)
  *               → LSH band buckets → self-join per bucket → exact-Jaccard
  *               verification of the (small) candidate set. Shuffle is on
  *               (band, bandSignature); candidate volume is governed by the
  *               S-curve (b,r), not by n².
  *  - SimHash:   60-bit fingerprint per doc; Hamming-ball pairs found by
  *               pigeonhole banding (4 bands of 15 bits: any pair within
  *               Hamming distance 3 shares at least one exact band), with
  *               oversized band buckets recursively re-banded on the
  *               remaining bits so no self-join input is unbounded.
  *  - n-gram Jaccard: exact character-shingle Jaccard within cheap
  *               blocking groups (language × length bucket); blocks above
  *               a size cap switch to an in-block MinHash-LSH candidate
  *               pass, so no self-join input is ever unbounded.
  *
  * Every function is deterministic and engine-portable (see
  * [[graft.functions.TextFunctions]]), so the DuckDB oracle replays the
  * exact same arithmetic. Skewed buckets (a shingle signature shared by
  * thousands of near-identical docs) are the one scale hazard: AQE skew-join
  * handles moderate skew; for pathological corpora cap bucket size upstream.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup: one row per `keys` group, winner = smallest `tieBreak`.
    *
    * Planned as a `min_by` AGGREGATION, not a window: partial (map-side)
    * aggregation keeps one candidate winner per key per input partition,
    * so the exchange carries at most one row per (key, partition) and
    * nothing is ever globally sorted — the window form shuffles AND sorts
    * every row. Same winners (smallest `tieBreak` per group) either way.
    *
    * `byDigest` groups on sha2-256 of the key columns instead of the
    * columns themselves: with a document-body key the hash/compare work per
    * row drops from the document length to 32 bytes (the 100 TB default;
    * collision probability is cryptographically negligible).
    */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: Seq[String],
      byDigest: Boolean = false): DataFrame = {
    val keyCol =
      if (byDigest) sha2(to_json(struct(keys.map(col): _*)), 256)
      else struct(keys.map(col): _*)
    val cols = df.columns.toSeq
    // Null-safe ordering: min_by ignores rows whose ordering value is null,
    // and struct comparison puts nulls FIRST — either way a null tieBreak
    // could beat (or erase) a real row. Interleaving an isNull flag before
    // each component makes the ordering value never-null and sorts null
    // components LAST, so a row with real tieBreak values always wins and a
    // group whose every row is null-tied still returns a real row.
    val ord = struct(tieBreak.flatMap(c =>
      Seq(col(c).isNull.as(s"__n_$c"), col(c).as(s"__v_$c"))): _*)
    df.groupBy(keyCol.as("__key"))
      .agg(min_by(struct(cols.map(col): _*), ord).as("__win"))
      .select(cols.map(c => col(s"__win.$c").as(c)): _*)
  }

  /** Digest projection for incremental dedup state: one distinct sha2-256
    * per row over the key columns — the compact "seen" set an ingest
    * pipeline persists between runs (32 bytes per historical document at
    * any corpus size, instead of the documents themselves).
    */
  def digests(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(sha2(to_json(struct(keys.map(col): _*)), 256).as("digest")).distinct()

  /** Incremental exact dedup for an ingest batch: dedup the batch
    * internally (smallest `tieBreak` per key wins, as [[exact]]), then
    * drop every row whose key digest already exists in `seenDigests`
    * (a [[digests]] table persisted from previous runs). The historical
    * side never ships payloads — only 32-byte digests, so at 100 TB the
    * anti join is a digest-keyed hash join (or broadcast, for a small
    * seen-set) against the new batch only, never a corpus-vs-corpus join.
    */
  def exactIncremental(batch: DataFrame, seenDigests: DataFrame,
      keys: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val deduped = exact(batch, keys, tieBreak)
    deduped
      .withColumn("__dg", sha2(to_json(struct(keys.map(col): _*)), 256))
      .join(seenDigests.select(col("digest").as("__dg")), Seq("__dg"), "left_anti")
      .drop("__dg")
  }

  /** (id, distinct HASHED word-`shingleN`-gram shingles) projection — the
    * signature pass and the exact-Jaccard verification both run over hashed
    * sets (longs), never the shingle strings; see
    * [[TextFunctions.hashedWordNgrams]] for the engine-portable hashing.
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String, shingleN: Int) =
    // sorted ascending ONCE per document: MinHashSig is order-independent
    // and every verify stage then runs the fused one-pass sorted-Jaccard /
    // sorted-intersect kernels instead of per-pair hash sets
    df.select(col(idCol).as("doc_id"),
      sort_array(T.hashedWordNgrams(col(textCol), shingleN)).as("shingles"))

  /** MinHash-LSH candidate pairs verified by exact Jaccard >= `threshold`.
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded to 6dp.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, b: Int = 16, r: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    require(b * r <= k, s"bands*rows ($b*$r) must be <= signature length $k")
    signatureBandPairs(df, idCol, textCol, T.minhashSig(_, k), b, r,
      shingleN, threshold)
  }

  /** [[minhashPairs]] with the One-Permutation-Hashing signature
    * ([[graft.functions.TextFunctions.ophSig]]): ONE pass over each
    * document's shingles instead of k permutations — the signature cost
    * drops k× (the dominant narrow pass on long documents at corpus
    * scale), banding/verification identical. OPH's rotation
    * densification raises estimator variance slightly, which here can
    * only affect CANDIDATE recall: every emitted pair is still
    * exact-Jaccard verified, so precision is unchanged by construction.
    */
  def minhashPairsOPH(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, b: Int = 16, r: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    require(b * r <= k, s"bands*rows ($b*$r) must be <= signature length $k")
    signatureBandPairs(df, idCol, textCol, T.ophSig(_, k), b, r,
      shingleN, threshold)
  }

  private def signatureBandPairs(
      df: DataFrame, idCol: String, textCol: String,
      sigOf: Column => Column, b: Int, r: Int, shingleN: Int,
      threshold: Double): DataFrame = {
    // Both the shingle sets (re-used by the exact-verify joins) and the
    // banded signatures (both sides of the self-join) are persisted: the
    // signature computation is the expensive narrow pass and must run
    // exactly once per document, not once per plan subtree.
    val sh = graft.util.Caches.persist(shingled(df, idCol, textCol, shingleN))
    val banded = sh
      .select(col("doc_id"),
        explode(T.bands(sigOf(col("shingles")), b, r)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bsig").as("bsig"))
    val bandedCached = graft.util.Caches.persist(banded)
    // Self-join per bucket: shuffle on (band,bsig); dedup candidate pairs
    // (ids only — never drag payloads through a distinct) before the
    // (more expensive) exact verification.
    val cand = bandedCached.as("x")
      .join(bandedCached.as("y"), Seq("band", "bsig"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(T.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** INCREMENTAL MinHash near-dup: candidate pairs between a NEW ingest
    * batch and the SEEN corpus only — never seen×seen (the point: a
    * daily ingest re-pairs the batch against history, not history
    * against itself; [[exactIncremental]]'s near-dup complement).
    * Output: (new_id, seen_id, jaccard >= threshold, 6dp). Ids must be
    * disjoint across the two tables (they are different corpora by
    * contract).
    *
    * Shape at scale: the seen side's banded signatures are exactly the
    * persistable signature store — computed once at ingest time and
    * appended, never recomputed (the same contract as the exact-dedup
    * digest table); each new batch contributes |batch| signatures to
    * the (band, bsig) join. The shuffle is batch-signatures vs
    * matching-bucket seen-signatures, NOT corpus².
    */
  def minhashIncrementalPairs(
      newDf: DataFrame, seen: DataFrame, idCol: String, textCol: String,
      k: Int = 64, b: Int = 16, r: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    require(b * r <= k, s"bands*rows ($b*$r) must be <= signature length $k")
    val shN = graft.util.Caches.persist(shingled(newDf, idCol, textCol, shingleN))
    val shS = graft.util.Caches.persist(shingled(seen, idCol, textCol, shingleN))
    def bandsOf(sh: DataFrame) = sh
      .select(col("doc_id"),
        explode(T.bands(T.minhashSig(col("shingles"), k), b, r)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.bsig").as("bsig"))
    val cand = bandsOf(shN).as("x").join(bandsOf(shS).as("y"),
        Seq("band", "bsig"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("seen_id"))
      .distinct()
    cand
      .join(shN.select(col("doc_id").as("new_id"),
        col("shingles").as("sh_a")), "new_id")
      .join(shS.select(col("doc_id").as("seen_id"),
        col("shingles").as("sh_b")), "seen_id")
      .select(col("new_id"), col("seen_id"),
        round(T.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle CONTAINMENT over MinHash-LSH candidates:
    * cont_a = |A∩B|/|A| (how much of doc_a lives inside doc_b) and the
    * mirror cont_b — the signal Jaccard dilutes away when sizes differ: a
    * paragraph quoted whole inside a long article has cont_a ≈ 1 but tiny
    * Jaccard. Output (doc_a, doc_b, cont_a, cont_b), doc_a < doc_b, kept
    * when EITHER direction >= `threshold`, both rounded to 6dp.
    *
    * Candidates come from the same Jaccard-tuned MinHash banding as
    * [[minhashPairs]] (one persisted signature pass, id-only bucket
    * self-join) — deterministic and oracle-replayable. The honest recall
    * caveat: banding recalls pairs by JACCARD, so a high-containment pair
    * with very unequal sizes (and hence low Jaccard) can be missed; the
    * published scale path for that regime partitions the corpus by set
    * size and tunes bands per stratum (LSH Ensemble, Zhu et al., VLDB
    * 2016) — same plan shape, stratified banding, so the engine cost
    * model here carries over unchanged.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, b: Int = 16, r: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    require(b * r <= k, s"bands*rows ($b*$r) must be <= signature length $k")
    val sh = graft.util.Caches.persist(shingled(df, idCol, textCol, shingleN))
    val banded = sh
      .select(col("doc_id"),
        explode(T.bands(T.minhashSig(col("shingles"), k), b, r)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bsig").as("bsig"))
    val bandedCached = graft.util.Caches.persist(banded)
    val cand = bandedCached.as("x")
      .join(bandedCached.as("y"), Seq("band", "bsig"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // shingle sets are sorted (see shingled): two-pointer kernel, no
    // per-pair hash set
    verifyContainment(cand, sh, threshold)
  }

  /** TF-WEIGHTED (multiset) Jaccard near-dup pairs — bag-of-words
    * similarity where [[minhashPairs]] is n-gram/order-sensitive: a
    * reshuffled or lightly re-templated document keeps its term
    * FREQUENCY profile while losing most of its shingles, and weighted
    * Jaccard J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) is the
    * standard signal for that regime.
    *
    * Entirely INTEGER arithmetic via the Gollapudi-Sharma integer
    * reduction: a term with (capped) frequency tf expands to the
    * elements (term, 1) .. (term, tf), and PLAIN Jaccard over the
    * expanded sets IS the weighted Jaccard of the capped tf vectors —
    * so the whole [[minhashPairs]] machinery (k-permutation integer
    * MinHash, LSH banding, sorted-array exact verify) applies verbatim
    * and the oracle replays it with the same md5/mod-P hashing. `maxTf`
    * caps the expansion (tf clipping — the IR convention): a
    * pathological million-repeat token contributes maxTf elements, not
    * a million; the capped measure is the documented contract.
    *
    * Output: (doc_a, doc_b, wjaccard >= threshold, 6dp), doc_a < doc_b.
    * Scale shape identical to [[minhashPairs]] — expansion multiplies
    * the element table by mean capped-tf (bounded by doc length), the
    * signature pass is one narrow aggregation per doc, and the shuffle
    * key is the (band, bsig) bucket.
    */
  def weightedJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, b: Int = 16, r: Int = 4,
      threshold: Double = 0.5, maxTf: Int = 16): DataFrame = {
    require(b * r <= k, s"bands*rows ($b*$r) must be <= signature length $k")
    require(maxTf >= 1, s"maxTf must be >= 1, got $maxTf")
    val tf = df.select(col(idCol).as("doc_id"),
        explode(T.words(col(textCol))).as("w"))
      .groupBy("doc_id", "w")
      .agg(least(count(lit(1)), lit(maxTf.toLong)).as("tf"))
    // (term, occurrence-index) elements, hashed with the engine's
    // md5/mod-P contract over term + U+0001 + index (the separator keeps
    // ("a", 11) and ("a1", 1) distinct); distinct per doc by
    // construction, sorted once for the fused verify kernels
    val sh = graft.util.Caches.persist(
      tf.select(col("doc_id"),
          explode(sequence(lit(1), col("tf").cast("int"))).as("i"),
          col("w"))
        .select(col("doc_id"),
          T.h32(concat(col("w"), lit("\u0001"), col("i"))).as("h"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("h"))).as("shingles")))
    val banded = graft.util.Caches.persist(sh
      .select(col("doc_id"),
        explode(T.bands(T.minhashSig(col("shingles"), k), b, r)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.bsig").as("bsig")))
    val cand = banded.as("x")
      .join(banded.as("y"), Seq("band", "bsig"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(T.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("wjaccard"))
      .where(col("wjaccard") >= threshold)
  }

  /** Size-stratified containment dedup — the LSH-Ensemble recipe (Zhu et
    * al., VLDB 2016) closing [[containmentPairs]]' documented recall
    * hole: Jaccard-tuned banding misses high-CONTAINMENT pairs with very
    * unequal set sizes (a paragraph quoted whole inside a long article
    * has cont ≈ 1 but Jaccard ≈ |A|/|B|). Here every document carries
    * its size STRATUM (floor(log2 |shingles|), exact integer arithmetic
    * via binary-string length on both engines), signatures band at a
    * LADDER of (b, r) configurations — level 1 = (32, 2), 2 = (k, 1),
    * S-curve midpoints (1/b)^(1/r) ≈ 0.177 / ~0 — and each candidate
    * pair is admitted from exactly the level its stratum combination
    * REQUIRES: the worst-case Jaccard of a containment-t pair with
    * sizes in [2^sa, 2^(sa+1)) × [2^sb, 2^(sb+1)) is
    * j_min = t·2^sa / (2^sa + 2^(sb+1) − t·2^sa), and the required
    * level is the most selective one whose midpoint is below j_min —
    * same-stratum pairs (j_min = t/(3−t) ≥ 0.177 for t ≥ 0.46) keep
    * the tighter banding; cross-stratum pairs get the permissive bands
    * their tiny worst-case Jaccard needs. (A tighter (16, 4) level with
    * midpoint 0.5 would require j_min ≥ 0.5 ⇔ size ratio ≤ 1.1 —
    * unreachable under power-of-2 strata where the in-stratum worst
    * case is already 2×, so no such level exists: it would band every
    * doc for a branch no pair can select.) Output and
    * verification are identical to [[containmentPairs]] (exact
    * containment both directions over sorted shingle sets, either
    * direction >= `threshold` kept).
    *
    * Cost shape: one signature pass (persisted), 2 band projections of it
    * (32 + k rows/doc vs 16 — the ensemble's price), per-level bucket
    * self-joins on (level, band, bsig) with the [[nearDupPairs]]-style
    * oversized-bucket key extension (`maxBucket`, extended key = next
    * band's signature within the level), id-only candidates, one exact
    * verify join. The level-2 (r=1) buckets are the permissive tail —
    * single-minhash agreement — and exactly the ones the extension
    * guard exists for at corpus scale.
    */
  def containmentPairsStratified(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 128, shingleN: Int = 3, threshold: Double = 0.7,
      maxBucket: Int = 4096): DataFrame = {
    require(k >= 64, s"stratified banding needs k >= 64, got $k")
    val sh = graft.util.Caches.persist(
      shingled(df, idCol, textCol, shingleN))
    val sig = graft.util.Caches.persist(
      sh.select(col("doc_id"),
        (length(bin(size(col("shingles")))) - 1).cast("long").as("__stratum"),
        T.minhashSig(col("shingles"), k).as("__sig")))
    // level 2 spends the WHOLE signature one row per band — the
    // permissive tail's recall is 1-(1-j)^k, so k is the recall knob for
    // extreme-skew pairs (k=64 measured 6/9 prefix-twin recall on the
    // gate fixture; k=128 recalls 9/9 at both gate SFs)
    val levels = Seq((1, 32, 2), (2, k, 1))
    require(levels.forall { case (_, b, r) => b * r <= k },
      s"band ladder needs b*r <= $k")
    val banded = levels.map { case (lvl, b, r) =>
      sig.select(col("doc_id"), col("__stratum"),
          T.bands(col("__sig"), b, r).as("bds"))
        .select(col("doc_id"), col("__stratum"), col("bds"),
          explode(col("bds")).as("bd"))
        .select(col("doc_id"), col("__stratum"), lit(lvl).as("level"),
          col("bd.band").as("band"), col("bd.bsig").as("bsig"),
          element_at(col("bds"), (col("bd.band") + 1) % b + 1)
            .getField("bsig").as("nsig"))
    }.reduce(_ unionAll _)
      // persisted (round 20): the 160-rows/doc banding explode over the
      // k-length signature arrays is re-computed by the bucket-count
      // pass AND by all four self-join sides without it — five
      // evaluations of the same 812k-row frame at gate scale
      .transform(graft.util.Caches.persist)
    val counts = graft.util.Caches.persist(
      banded.groupBy("level", "band", "bsig").count())
    val nOver = counts.where(col("count") > maxBucket).count()
    if (nOver > 0) log.warn(
      s"containmentPairsStratified: $nOver bucket(s) exceed " +
        s"maxBucket=$maxBucket and join on an extended key; pairs landing " +
        "only in those buckets lose one band-ladder level of recall")
    // persisted (round 20): both levels' self-joins read this frame on
    // both sides through non-identical subtrees (the <=/> bucket-size
    // filters differ), so ReusedExchange cannot dedup them
    val sized = graft.util.Caches.persist(
      banded.join(counts, Seq("level", "band", "bsig")))
    // the level a stratum pair REQUIRES: worst-case Jaccard from the
    // stratum bounds, compared against the ladder midpoints. Plain IEEE
    // double arithmetic (powers of two exact), replayed bit-for-bit by
    // the oracle.
    def requiredLevel(sa: Column, sb: Column): Column = {
      val pmin = pow(lit(2.0), least(sa, sb).cast("double"))
      val pmax = pow(lit(2.0), greatest(sa, sb).cast("double") + 1)
      val jmin = (lit(threshold) * pmin) / (pmin + pmax - lit(threshold) * pmin)
      when(jmin >= 0.177, 1).otherwise(lit(2))
    }
    def pairsOf(x: DataFrame, keys: Seq[String]): DataFrame =
      x.as("x").join(x.as("y"), keys)
        .where(col("x.doc_id") < col("y.doc_id"))
        .where(requiredLevel(col("x.__stratum"), col("y.__stratum"))
          === col(keys.head))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = pairsOf(sized.where(col("count") <= maxBucket),
        Seq("level", "band", "bsig"))
      .union(pairsOf(sized.where(col("count") > maxBucket),
        Seq("level", "band", "bsig", "nsig")))
      .distinct()
    verifyContainment(cand, sh, threshold)
  }

  /** Exact-containment verification shared by [[containmentPairs]] and
    * [[containmentPairsStratified]]: re-join the sorted shingle sets and
    * keep pairs clearing `threshold` in either direction.
    */
  private def verifyContainment(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val inter = size(org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Expressions.SortedIntersect(
        org.apache.spark.sql.GraftColumnBridge.expression(col("sh_a")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("sh_b")))))
      .cast("double")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter / size(col("sh_a")).cast("double"), 6).as("cont_a"),
        round(inter / size(col("sh_b")).cast("double"), 6).as("cont_b"))
      .where(col("cont_a") >= threshold || col("cont_b") >= threshold)
  }

  /** Text k-NN: each document's top-`k` most-Jaccard-similar neighbors
    * among its MinHash-LSH candidates — the text-side mirror of
    * [[Similarity.annTopK]] (same two-phase shape: bucket-join candidate
    * generation over ids, exact verification by re-join, per-query
    * window). Output (q_id, n_id, jaccard, rank), ranked by
    * (jaccard desc, n_id); documents with no LSH candidate emit no rows —
    * LSH says they have no neighbor above the banding's S-curve, and a
    * fabricated low-similarity "neighbor" would be noise, not recall.
    *
    * Scale: candidates are symmetric id pairs off the banded self-join
    * (∝ true near-neighbors, never n²); the per-query window sorts each
    * doc's own candidate list only.
    */
  def knnJaccard(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minhashK: Int = 64, b: Int = 16, r: Int = 4,
      shingleN: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = minhashPairs(df, idCol, textCol, minhashK, b, r, shingleN,
      threshold = 0.0)
    val sym = pairs.select(col("doc_a").as("q_id"), col("doc_b").as("n_id"),
        col("jaccard"))
      .union(pairs.select(col("doc_b").as("q_id"), col("doc_a").as("n_id"),
        col("jaccard")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("jaccard").desc, col("n_id").asc)
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Greedy near-dedup: drop every doc that is near-identical to a
    * lower-id doc (appears as doc_b in a verified pair). Deterministic and
    * one anti-join — the iterative connected-components variant is a
    * driver-orchestrated loop over this same primitive.
    */
  def minhashApply(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, b: Int = 16, r: Int = 4, shingleN: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    val losers = minhashPairs(df, idCol, textCol, k, b, r, shingleN, threshold)
      .select(col("doc_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over near-dup pairs — the production dedup
    * grouping (pairwise greedy dedup over-deletes chains; CC keeps exactly
    * one doc per transitive duplicate cluster). Iterative min-label
    * propagation: every vertex starts labeled with its own id and
    * repeatedly takes the min of its neighbors' labels until fixpoint —
    * the unique result is the component's min id, independent of
    * iteration order, so any engine agrees on the output.
    *
    * The driver loop holds NO data: each round is one join + groupBy, the
    * convergence check is an isEmpty on the diff, and rounds needed =
    * O(log n) (pointer jumping). Every round checkpoints to truncate the
    * self-join's exponential lineage — executor-local by default, or to a
    * RELIABLE `checkpointDir` for cluster runs that must survive executor
    * loss mid-fixpoint.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    // The loop runs WITHOUT AQE and on ONE hash partitioning. Under AQE
    // every exchange of every round is its own query stage and job; off,
    // a round is one checkpoint job plus the probe. The directed edges
    // are hash-partitioned on `dst` once, and every label generation
    // ends hash-partitioned on `id` with the same p before its
    // checkpoint (the seed by aggregating on the partition key, each
    // round by `repartition(p, id)`), so the checkpointed LogicalRDD
    // advertises HashPartitioning(id, p) and the neighbor-min and
    // `l ⋈ neighborMin` joins plan no exchange on the label side.
    // Measured on 4 vCPUs: the pipeline benchmark's graph_fixpoint
    // (~220 edges) fell from 49 to 20 Spark jobs in its cc stage and
    // from 2.74 to 1.96 s request p50 (median of 10 alternating pairs);
    // at sf0.1 graph_cc 3.86 → 3.08 s and dedup_keep_best 2.32 → 1.69 s,
    // embed_dbscan and dedup_minhash_cc within noise. The round-19
    // reading that AQE off was 1.2–1.35x slower on graph_cc was taken
    // with the label side re-shuffled every round. The caller's `pairs`
    // still run under the caller's conf: the edge count below
    // materializes them before the scopes open.
    //
    // localCheckpoint stores lineage-truncated blocks on executors — fine
    // single-node, but an executor loss mid-fixpoint kills the job. When a
    // checkpointDir is given (the cluster deployment mode), rounds write
    // RELIABLE checkpoints there instead and survive executor churn.
    //
    // The dir is set ONCE, before the loop: setCheckpointDir both mutates
    // shared SparkContext state and mints a fresh UUID subdirectory every
    // call, so the previous per-round form leaked one directory tree per
    // round on top of repeating the global mutation. Each round's files are
    // deleted as soon as the following round has materialized and the
    // convergence probe has read them — only the in-flight round plus the
    // returned fixpoint stay on disk (the caller owns the final files; they
    // are reclaimed by spark.cleaner.referenceTracking.cleanCheckpoints or
    // by deleting the UUID subdir after the labels are consumed).
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val ckptFs = checkpointDir.map { d =>
      sc.setCheckpointDir(d)
      val root = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      (root.getFileSystem(sc.hadoopConfiguration), root)
    }
    def listCkpt(): Set[String] = ckptFs match {
      case Some((fs, root)) if fs.exists(root) =>
        fs.listStatus(root).map(_.getPath.getName).toSet
      case _ => Set.empty
    }
    def dropCkpt(names: Set[String]): Unit = ckptFs.foreach { case (fs, root) =>
      names.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    }
    val ckpt: DataFrame => DataFrame =
      if (ckptFs.isDefined) _.checkpoint(true) else _.localCheckpoint(true)
    val preexisting = listCkpt()
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val directed = graft.util.Caches.persist(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))))
    // Size the loop's partitions to the largest frame a round shuffles.
    // Every vertex is the src of at least one directed edge, so the
    // label table (one row per vertex) never outgrows the directed edge
    // table: its count is max(label rows, edge rows). At bench scale
    // this collapses the rounds' exchanges to a task or two; at corpus
    // scale the count clamps to the session's configured partitions.
    // See [[graft.util.Fixpoint.loopPartitions]].
    val p = graft.util.Fixpoint.loopPartitions(spark, directed.count())
    val (labels, converged) = graft.util.Fixpoint.withoutAqe(spark) {
    graft.util.Fixpoint.withShufflePartitions(spark, p) {
    val edges = graft.util.Caches.persist(directed.repartition(p, col("dst")))
    // Seed comp = min(id, min neighbor): the first neighbor-min round fused
    // into the vertex-set construction (one groupBy instead of a distinct
    // plus a join+groupBy round). The edge table is symmetric, so grouping
    // on `dst` gives the same minima as grouping on `src` — and `dst` is
    // what `edges` is already partitioned on: the aggregate needs no
    // exchange of its own and the seed comes out HashPartitioning(id, p)
    // like every later generation. Its scan materializes `edges`, after
    // which the unpartitioned copy is dead.
    var labels = ckpt(
      edges.groupBy("dst").agg(min("src").as("mn"))
        .select(col("dst").as("id"), least(col("dst"), col("mn")).as("comp")))
    directed.unpersist(blocking = false)
    var labelsFiles = listCkpt() -- preexisting
    var iter = 0
    var converged = false
    // One propagation step: neighbor-min then pointer jumping (path
    // halving): comp <- comp(comp). Combined these converge in O(log n)
    // steps, so a long duplicate CHAIN cannot outrun maxIter the way
    // pure one-hop propagation (O(diameter)) could. The `__ol` column
    // (the label as of the LAST materialization) threads through
    // untouched so the convergence probe is a FILTER over the new
    // checkpoint's blocks — no re-join against the old generation.
    def step(l: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(l.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src").as("id")).agg(min("comp").as("ncomp"))
      val propagated = l.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("__ol"))
      propagated
        .join(propagated.select(col("id").as("comp"), col("comp").as("jc")),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jc"), col("comp"))).as("comp"),
          col("__ol"))
        .repartition(p, col("id"))
    }
    while (!converged && iter < maxIter) {
      // ONE step per materialization (a 2-step unroll was measured
      // 2x WORSE: without a materialization boundary the nested
      // self-joins re-execute the inner step's subtree — ReusedExchange
      // dedups only the exchanges, not the compute between them).
      //
      // checkpoint (not persist): the self-joins double the logical
      // plan every step, and persist only caches execution — the
      // ANALYZED plan would still grow 2^iter and OOM the driver.
      // Checkpointing truncates lineage each round.
      val round = step(
        labels.select(col("id"), col("comp"), col("comp").as("__ol")))
      graft.util.PlanDump(s"cc_round_${iter + 1}", round)
      val next = ckpt(round)
      converged = next.where(col("comp") =!= col("__ol")).isEmpty
      // `next` is materialized (eager checkpoint) and the probe read
      // only its own blocks — the previous round's reliable files are
      // now dead.
      val nextFiles = listCkpt() -- preexisting -- labelsFiles
      dropCkpt(labelsFiles)
      labelsFiles = nextFiles
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    (labels, converged)
    }
    }
    if (!converged) log.warn(
      s"connectedComponents exited at maxIter=$maxIter without a verified " +
        "fixpoint; labels may be non-converged (raise maxIter)")
    labels.select(col("id").as("doc_id"), col("comp").as("component"))
  }

  /** Keep one document per duplicate cluster: drop every row whose id
    * appears in `components` (the [[connectedComponents]] output) with a
    * label other than itself — the cluster representative is the min id.
    * One anti join keyed on the id; the components table is proportional
    * to the DUPLICATE count, not the corpus, so at 100 TB it is the small
    * side (broadcast or id-hash join, never a corpus self-join).
    */
  /** Duplication-cluster size report (round 17) — "HOW duplicated is
    * this corpus": the cluster-size histogram over the near-dup
    * components plus the singleton mass — the number every dedup
    * budget/policy decision starts from (a corpus that is 40%
    * size-2-cluster pairs needs a different plan than one with a few
    * 10k-doc template farms). `components` is [[connectedComponents]]'
    * (doc_id, component) table (members of size-≥2 clusters only);
    * docs of `df` absent from it form the size-1 row. `doc_share` is
    * each size's share of the WHOLE corpus (shares sum to 1). A
    * components table with MORE rows than the corpus is stale or
    * mismatched (every components row must correspond to a df row) —
    * refused loudly rather than silently skipping the singleton
    * branch and summing doc_share past 1.
    *
    * Shape at scale: two map-side-combined aggregates over the
    * component table (component-cardinality, then size-cardinality)
    * plus one corpus count — the output is size-histogram-sized.
    * Output per cluster size (ordered):
    * (cluster_size, n_clusters, n_docs, doc_share).
    */
  def clusterStats(df: DataFrame, components: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val total = df.count()
    require(total > 0, "clusterStats: empty corpus")
    val comps = graft.util.Caches.persist(components)
    val clustered = comps.count()
    require(clustered <= total,
      s"clusterStats: components has $clustered rows but the corpus " +
        s"only $total — stale or mismatched component table")
    val hist = comps.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val withSingles =
      if (total > clustered) {
        val single = total - clustered
        hist.unionByName(spark.createDataFrame(
          Seq(Row(1L, single, single)).asJava,
          StructType(Seq(
            StructField("cluster_size", LongType, false),
            StructField("n_clusters", LongType, false),
            StructField("n_docs", LongType, false)))))
      } else hist
    withSingles
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / lit(total.toDouble), 6)
          + lit(0d))
      .orderBy("cluster_size")
  }

  def ccApply(df: DataFrame, components: DataFrame, idCol: String): DataFrame =
    df.join(
      components.where(col("doc_id") =!= col("component"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Keep the BEST document per duplicate cluster — the selection policy
    * real dedup pipelines want instead of [[ccApply]]'s min-id rule: per
    * cluster the row with the highest `scoreCol` survives (ties broken by
    * min id, so the choice is total and engine-portable). Rows in no
    * cluster pass through untouched.
    *
    * Scale shape: the corpus splits on one id join against the
    * duplicate-bounded components table — non-clustered rows (the vast
    * majority at 100 TB) take a broadcast anti join and NEVER shuffle;
    * only the clustered slice (proportional to duplicates, not corpus)
    * flows into the per-cluster window. Equal to the global
    * `row_number() OVER (PARTITION BY coalesce(component, id))` form
    * without windowing the whole corpus.
    */
  def keepBest(df: DataFrame, components: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val comp = components.select(col("doc_id").as(idCol), col("component"))
    val clustered = df.join(comp, Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val winners = clustered
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(df.columns.map(col): _*)
    df.join(comp.select(idCol), Seq(idCol), "left_anti")
      .unionByName(winners)
  }

  /** 60-bit SimHash fingerprint per document (word-hash pass staged so the
    * md5 work runs once per row, not once per bit — see
    * [[TextFunctions.simhash60FromHashes]]).
    */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        T.wordHashes60(T.words(col(textCol))).as("__wh"))
      .select(col("doc_id"), T.simhash60FromHashes(col("__wh")).as("simhash"))

  /** Near-dup pairs with Hamming(simhash) <= maxHamming, found by
    * pigeonhole banding: split 60 bits into (maxHamming+1) bands — any pair
    * within the Hamming ball agrees exactly on >= 1 band. Join per band,
    * verify with bit_count(xor). No all-pairs comparison.
    *
    * Scale guard: band-key cardinality alone (2^15 per band at
    * maxHamming=3) cannot bound bucket sizes — a popular key still goes
    * quadratic in the within-bucket self-join. Buckets larger than
    * `maxBucket` are therefore RE-BANDED before joining: inside such a
    * bucket every doc agrees on band j exactly, so a qualifying pair's
    * remaining `60 - bandBits` bits still differ by <= maxHamming — split
    * them into (maxHamming+1) sub-bands and the pigeonhole guarantee holds
    * again, recall-lossless. Each split multiplies rows of the oversized
    * bucket by (maxHamming+1) but divides its join cost by the sub-key
    * cardinality (~2^12); at extreme scale the same step can recurse.
    * (Docs with fully identical fingerprints are never separated by any
    * bit-slice — their pairs are genuine output, quadratic by definition.)
    *
    * All key arithmetic is integer shift/mask (exact at 60 bits, where the
    * previous floor(h / 2^j) double form would lose bits above 2^53) and is
    * replayed verbatim by the DuckDB oracle via `//` and `%`.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame =
    fingerprintPairs(simhashFingerprints(df, idCol, textCol), maxHamming,
      maxBucket)

  /** Near-pairs of ANY 60-bit fingerprint table (doc_id, simhash) by
    * Hamming distance — the banding engine behind [[simhashPairs]],
    * exposed because every 60-bit locality hash (SimHash over words,
    * perceptual hashes over media bytes) shares it. Recall is COMPLETE
    * for hamming <= maxHamming by pigeonhole: maxHamming+1 bands mean
    * some band is untouched, and the oversized-bucket sub-split keeps
    * the guarantee (maxHamming+1 sub-bands of the remainder, same
    * argument) — so output EQUALS the all-pairs filter, which is exactly
    * what the oracles replay.
    */
  def fingerprintPairs(fingerprints: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val W = 60
    val nBands = maxHamming + 1
    require(W % nBands == 0, s"60 bits must split evenly into ${nBands} bands")
    val bandBits = W / nBands
    val remBits = W - bandBits
    val subW = (remBits + nBands - 1) / nBands
    val fp = graft.util.Caches.persist(fingerprints)
    // Static per-band structs (Scala-level loop => integer shift amounts):
    // bkey = bits [bandBits*j, bandBits*(j+1)) ; rem = the other 45 bits
    // packed down (high part shifted into the hole left by band j).
    val bandArr = array((0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), bandBits * j)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"),
        (shiftleft(shiftright(col("simhash"), bandBits * (j + 1)), bandBits * j)
          + col("simhash").bitwiseAND(lit((1L << (bandBits * j)) - 1))).as("rem"))
    }: _*)
    val banded = graft.util.Caches.persist(
      fp.select(col("doc_id"), col("simhash"), explode(bandArr).as("bd"))
        .select(col("doc_id"), col("simhash"), col("bd.band").as("band"),
          col("bd.bkey").as("bkey"), col("bd.rem").as("rem")))
    // Bucket sizes: one co-partitioned groupBy + join on the band key.
    val counts = banded.groupBy("band", "bkey").count()
    val sized = banded.join(counts, Seq("band", "bkey"))
    val small = sized.where(col("count") <= maxBucket)
    val subArr = array((0 until nBands).map { k =>
      struct(lit(k).as("sub"),
        shiftright(col("rem"), subW * k)
          .bitwiseAND(lit((1L << subW) - 1)).as("skey"))
    }: _*)
    val big = sized.where(col("count") > maxBucket)
      .select(col("doc_id"), col("simhash"), col("band"), col("bkey"),
        explode(subArr).as("sd"))
      .select(col("doc_id"), col("simhash"), col("band"), col("bkey"),
        col("sd.sub").as("sub"), col("sd.skey").as("skey"))
    def pairsOf(b: DataFrame, keys: Seq[String]): DataFrame =
      b.as("x").join(b.as("y"), keys)
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
            .cast("long").as("hamming"))
    pairsOf(small, Seq("band", "bkey"))
      .union(pairsOf(big, Seq("band", "bkey", "sub", "skey")))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Character-n-gram Jaccard pairs within blocking groups, over HASHED,
    * MOD-SAMPLED shingle sets (winnowing a la MOSS): each distinct n-gram
    * is hashed to a long and only hashes ≡ 0 (mod `sampleMod`) survive.
    * Jaccard over the sampled sets is an unbiased estimate of the full
    * n-gram Jaccard at 1/sampleMod the set size — and set intersection on
    * longs is ~10x cheaper than on short strings (measured 40s -> 4s on
    * the bench corpus).
    *
    * Blocking = equality on `blockCols` + a length bucket of `bucketWidth`
    * chars; near-identical texts land in the same block (length differs by
    * < bucketWidth in the common case). Docs whose sampled set is empty
    * are excluded (a 0/0 Jaccard is NaN and NaN comparisons differ across
    * engines).
    *
    * Scale guard: a block is only self-joined directly while it holds at
    * most `maxBlock` docs. Larger blocks — the 100 TB hazard, where a
    * popular (lang, length) cell would go n² — switch to a MinHash-LSH
    * candidate pass INSIDE the block: `lshBands` single-row bands over the
    * already-sampled shingle hashes (band i keys on the min of permutation
    * i — the same Knuth-constant permutation family as
    * [[TextFunctions.minhashSig]]), so join keys are
    * (block, band, minhash) and per-key fan-in is governed by hash
    * diversity, not block size. Candidates are verified by exact Jaccard
    * as usual. The LSH path is probabilistic: a pair at Jaccard J is
    * caught with prob 1-(1-J)^lshBands (b=8: 0.996 at J=0.5, 0.99993 at
    * J=0.7) — the price of bounding the join, paid only in blocks where
    * the exact join is unaffordable.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int = 5, bucketWidth: Int = 50,
      threshold: Double = 0.7, sampleMod: Int = 4,
      maxBlock: Int = 1024, lshBands: Int = 8): DataFrame = {
    val sampled = sort_array(T.hashedCharNgrams(col(textCol), n, sampleMod))
    val sh = df.select(
      Seq(col(idCol).as("doc_id"),
        sampled.as("shingles"),
        floor(length(col(textCol)) / bucketWidth).as("lenb"))
        ++ blockCols.map(col): _*)
      .where(size(col("shingles")) > 0)
    val shCached = graft.util.Caches.persist(sh)
    val keys = "lenb" +: blockCols
    // Block sizes: one co-partitioned groupBy + join on the block key.
    val counts = shCached.groupBy(keys.map(col): _*).count()
    val sized = shCached.join(counts, keys)
    val small = sized.where(col("count") <= maxBlock)
    val smallPairs = small.as("x").join(small.as("y"), keys)
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(T.sortedJaccard(col("x.shingles"), col("y.shingles")), 6).as("jaccard"))
    val big = sized.where(col("count") > maxBlock)
      .select(col("doc_id") +: keys.map(col)
        :+ posexplode(T.minhashSig(col("shingles"), lshBands)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "mh")
    // Candidates are ids only (shingle arrays never ride the LSH shuffle
    // or the distinct); exact-Jaccard verification re-joins the persisted
    // shingle table, mirroring minhashPairs.
    val candBig = big.as("x").join(big.as("y"), keys ++ Seq("band", "mh"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val bigPairs = candBig
      .join(shCached.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shCached.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(T.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
    smallPairs.union(bigPairs).where(col("jaccard") >= threshold)
  }

  /** Prefix-filtered set-similarity self-join (the AllPairs/PPJoin
    * family) — the EXACT-recall alternative to [[minhashPairs]] /
    * [[ngramJaccardPairs]]'s LSH candidate passes: LSH misses a pair at
    * Jaccard J with probability (1-J^r)^b > 0; the prefix filter finds
    * EVERY pair at or above the threshold, paying with a candidate set
    * governed by token rarity instead of a tunable S-curve.
    *
    * Principle (prefix-filtering lemma): order every set's tokens by one
    * global rarity order (document frequency asc, token asc). A set of
    * size s at threshold t keeps its first s - ceil(t·s) + 1 tokens as
    * its prefix. If J(A,B) >= t then |A∩B| >= ceil(t·max(|A|,|B|)), and
    * the globally-smallest common token must sit inside BOTH prefixes —
    * so joining prefixes on token has perfect recall, and candidates are
    * verified by exact Jaccard as usual.
    *
    * Shape at scale: token table = one explode of the winnowed shingle
    * sets; document frequency is a map-side-combined count on token; the
    * rarity rank is a per-document window (state = one document's
    * shingles); the candidate join keys on PREFIX tokens — by
    * construction the rarest tokens of each set — so per-key fan-in
    * follows the frequency floor, not corpus size. Shingle arrays never
    * ride the candidate shuffle; verification re-joins the persisted
    * shingle table by id, mirroring [[ngramJaccardPairs]].
    *
    * `threshold` should be exactly representable in binary (0.5, 0.75,
    * 0.625…) so ceil(t·s) can never straddle a double rounding boundary
    * between engines. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, sampleMod: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    // shingles sorted ONCE per document: the verify stage then runs the
    // fused one-pass sorted-Jaccard kernel per candidate pair instead of
    // array_intersect/array_distinct hash sets (the triangle-count
    // lesson applied to the millions-of-pairs verify join)
    val sh = df.select(col(idCol).as("doc_id"),
      sort_array(T.hashedCharNgrams(col(textCol), n, sampleMod))
        .as("shingles"))
      .where(size(col("shingles")) > 0)
    val shCached = graft.util.Caches.persist(sh)
    val tok = shCached.select(col("doc_id"),
      size(col("shingles")).cast("long").as("sz"),
      explode(col("shingles")).as("tok"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    // persisted: the prefix subtree (a per-doc rarity window) feeds BOTH
    // sides of the candidate self-join, and the candidate table feeds
    // two verify joins — without the persists the window and the
    // distinct re-run per consumer (with the length filter below,
    // measured 79 s -> 7 s at sf0.1 on a vocabulary-poor corpus where
    // candidates reach ~8M pairs)
    val prefix = graft.util.Caches.persist(tok.join(dfreq, "tok")
      .withColumn("__rn", row_number().over(byRarity).cast("long"))
      .where(col("__rn") <=
        col("sz") - ceil(col("sz").cast("double") * threshold) + 1)
      .select(col("doc_id"), col("tok"), col("sz"), col("__rn").as("pos")))
    // Two exact prunes inside the candidate join, both BEFORE the
    // distinct and the verify join ever see a pair:
    //  - AllPairs LENGTH filter: J(A,B) <= min/max, so t·max > min can
    //    never reach the threshold.
    //  - PPJoin POSITION filter (Xiao et al., WWW 2008): tokens matching
    //    at rarity-order positions (i, j) bound the overlap by
    //    1 + min(sz_a - i, sz_b - j); J >= t needs overlap >=
    //    t·(sz_a+sz_b)/(1+t). A truly-similar pair always passes on its
    //    FIRST common prefix token (all common tokens sit at or after
    //    it), so recall is exact; rows for late, hopeless matches drop.
    //    The 1e-9 slack keeps the double bound from over-pruning at
    //    exact-integer boundaries — pruning weaker-or-equal than ceil,
    //    never stronger.
    val ppj = threshold / (1.0 + threshold)
    val cand = graft.util.Caches.persist(
      prefix.as("x").join(prefix.as("y"),
          col("x.tok") === col("y.tok")
            && col("x.doc_id") < col("y.doc_id")
            && least(col("x.sz"), col("y.sz")).cast("double")
              >= greatest(col("x.sz"), col("y.sz")).cast("double") * threshold
            && (lit(1L) + least(col("x.sz") - col("x.pos"),
                col("y.sz") - col("y.pos"))).cast("double")
              >= (col("x.sz") + col("y.sz")).cast("double") * ppj - 1e-9)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
    cand
      .join(shCached.select(col("doc_id").as("doc_a"),
        col("shingles").as("sh_a")), "doc_a")
      .join(shCached.select(col("doc_id").as("doc_b"),
        col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(T.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** PASSAGE-level dedup (RefinedWeb/FineWeb-style): documents are cut
    * into fixed `window`-word passages; every passage that already
    * occurred anywhere in the corpus (first occurrence = smallest
    * (doc, position)) is dropped; survivors reassemble in original order.
    * This removes the cross-page boilerplate (headers, footers, license
    * blocks) that document-level dedup can't see, while [[exact]] /
    * [[minhashPairs]] handle whole-document duplication. Output one row
    * per surviving document:
    * (doc_id, clean_text, n_chunks, n_kept).
    *
    * Shape at scale: the passage table shuffles once keyed on passage
    * TEXT (the dedup identity — same key class as [[exact]] on a
    * document, but window-bounded payloads), with the per-document chunk
    * count riding a same-output window; the reassembly groups by doc with
    * state bounded by the document's own length. Documents whose every
    * passage is repeated elsewhere disappear, like rows in [[exact]].
    */
  def passages(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val ch = TextAnalysis.chunk(df, idCol, textCol,
      chunkSize = window, overlap = 0)
    val firstOcc = Window.partitionBy(col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
    val perDoc = Window.partitionBy(col("doc_id"))
    ch.withColumn("__rn", row_number().over(firstOcc))
      .withColumn("__nch", count(lit(1)).over(perDoc))
      .where(col("__rn") === 1)
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_id"),
            col("chunk_text").as("__t")))),
          s => s.getField("__t"))).as("clean_text"),
        max(col("__nch")).as("n_chunks"),
        count(lit(1)).as("n_kept"))
  }

  /** Edit-distance (Levenshtein) near-duplicate pairs — the precision
    * refinement tier below the sketch-based families: MinHash/SimHash
    * find "mostly the same tokens", edit distance certifies "the same
    * text up to `maxDist` character edits" (typo-level duplicates,
    * OCR noise, trailing-boilerplate variants).
    *
    * Levenshtein is O(|a|·|b|) per pair, so an unblocked corpus self-join
    * is doubly disqualified at scale (n² pairs × quadratic per pair).
    * Standard blocked form instead: candidates must share every
    * `blockCols` value AND a `bucketWidth`-character length band, and two
    * texts whose lengths differ by more than `maxDist` cannot be within
    * `maxDist` edits — that length guard runs as a plain codegen'd filter
    * BEFORE any distance is computed. The distance itself evaluates with
    * Spark's built-in bounded `levenshtein(l, r, threshold)` which
    * abandons a pair as soon as the running minimum exceeds `maxDist`
    * (O(maxDist·min(|a|,|b|)) instead of O(|a|·|b|)).
    *
    * Blocks over `maxBlock` members are dropped with a warning (same
    * escape hatch as [[ngramJaccardPairs]]'s maxBlock): a pathological
    * block (empty texts, template spam) otherwise degenerates to n²
    * distance evaluations; the sketch families remain the recall
    * backstop for what blocking misses.
    *
    * Output: (id_a, id_b, dist), id_a < id_b, dist <= maxDist.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], maxDist: Int = 5, bucketWidth: Int = 20,
      maxBlock: Int = 1024): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // band width must dominate the distance bound so qualifying pairs
    // land in the same or an adjacent length band — the join below only
    // looks one band away
    require(bucketWidth > maxDist,
      s"bucketWidth ($bucketWidth) must be > maxDist ($maxDist)")
    val keys = blockCols :+ "lenb"
    val base = df.select(
      Seq(col(idCol).as("doc_id"), col(textCol).as("txt"),
        length(col(textCol)).cast("long").as("len"),
        floor(length(col(textCol)) / bucketWidth).as("lenb"))
        ++ blockCols.map(col): _*)
    val sized = base.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val kept = sized.where(col("__bn") <= maxBlock).drop("__bn")
    val a = kept.select(Seq(col("doc_id").as("id_a"), col("txt").as("ta"),
      col("len").as("la")) ++ keys.map(col): _*)
    val b = kept.select(Seq(col("doc_id").as("id_b"), col("txt").as("tb"),
      col("len").as("lb")) ++ keys.map(col): _*)
    // a qualifying pair's length bands differ by at most 1 (bucketWidth >
    // maxDist): probing the left side into its 3 neighbouring bands finds
    // each unordered pair exactly once (b's band is a single value, so at
    // most one of a's probes can hit it — no dedup pass needed)
    val aBands = a.withColumn("lenb",
        explode(array(col("lenb") - 1, col("lenb"), col("lenb") + 1)))
    aBands.join(b, keys)
      .where(col("id_a") < col("id_b")
        && abs(col("la") - col("lb")) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("dist"))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** Jaro-Winkler near-duplicate pairs within blocking groups — the
    * record-linkage companion to [[editDistancePairs]]: Levenshtein
    * certifies "same text up to k absolute edits", Jaro-Winkler scores
    * PROPORTIONAL similarity with a shared-prefix premium, the standard
    * measure for short identifier-like fields (names, titles, keys)
    * where a 2-edit difference on 8 chars matters far more than on 200.
    *
    * Same blocked shape as [[editDistancePairs]] (equality on
    * `blockCols` + a `bucketWidth`-char length band, one-band adjacency
    * probe, `maxBlock` guard against degenerate blocks), so the
    * similarity — a native codegen'd expression, never a UDF — only ever
    * evaluates inside bounded blocks. Contract: pairs whose lengths
    * differ by more than a band are out of scope by design (at
    * `minSim` >= 0.9 the score itself already implies near-equal
    * lengths for short fields; this is the typo/variant tier, with the
    * sketch families as the recall backstop).
    *
    * Output: (id_a, id_b, sim), id_a < id_b, sim = 6dp-rounded
    * Jaro-Winkler >= minSim. minSim must exceed 0.7 so every kept score
    * sits in the prefix-boost regime that DuckDB's
    * `jaro_winkler_similarity` replays exactly.
    */
  def jaroWinklerPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], minSim: Double = 0.9, bucketWidth: Int = 20,
      maxBlock: Int = 1024): DataFrame = {
    require(minSim > 0.7 && minSim <= 1.0,
      s"minSim must be in (0.7, 1.0], got $minSim")
    val keys = blockCols :+ "lenb"
    val base = df.select(
      Seq(col(idCol).as("doc_id"), col(textCol).as("txt"),
        floor(length(col(textCol)) / bucketWidth).as("lenb"))
        ++ blockCols.map(col): _*)
    val sized = base.withColumn("__bn",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val kept = sized.where(col("__bn") <= maxBlock).drop("__bn")
    val a = kept.select(Seq(col("doc_id").as("id_a"), col("txt").as("ta"))
      ++ keys.map(col): _*)
    val b = kept.select(Seq(col("doc_id").as("id_b"), col("txt").as("tb"))
      ++ keys.map(col): _*)
    val aBands = a.withColumn("lenb",
      explode(array(col("lenb") - 1, col("lenb"), col("lenb") + 1)))
    aBands.join(b, keys)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(T.jaroWinkler(col("ta"), col("tb")), 6).as("sim"))
      .where(col("sim") >= minSim)
  }
}
