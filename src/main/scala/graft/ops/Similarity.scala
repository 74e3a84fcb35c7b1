package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Similarity search over an `array<float>` embedding column (SURVEY §2.3).
  *
  * Three tiers, chosen by query volume:
  *
  *  - bruteTopK: exact top-k for a SMALL query set — the query side is
  *    broadcast, so the "cross join" is a map-side nested loop over the
  *    corpus with no shuffle of the big side. Right answer for
  *    point-lookups; O(|Q|·N) comparisons.
  *  - annTopK: random-hyperplane sign-LSH (Charikar 2002) banding; only
  *    vectors sharing a band bucket are compared. Scale path for large
  *    query sets: the shuffle key is (band, signature), never the vector id
  *    cross product. Approximate (recall = 1-(1-p^r)^b).
  *  - ivfTopK: IVF-style — a deterministic centroid subset partitions the
  *    corpus into cells; queries only scan their own cell (probe=1).
  *    Centroid assignment is one broadcast join (centroids are tiny);
  *    at 100 TB the cells are the unit of partition pruning.
  *
  * Performance shape: per-vector work (sign bits, norm) is staged in its
  * own persisted projection so it runs exactly once per vector; candidate
  * generation joins/dedups IDS ONLY (payload arrays never ride through a
  * shuffle or a distinct); scoring re-joins the persisted vector table.
  * Norms are precomputed once per vector, so a candidate pair costs one
  * dot product, not three.
  *
  * Scores are computed in double with sequential accumulation and rounded
  * to 6dp before ranking, with the vector id as tie-break — a total order
  * any engine reproduces (see [[graft.functions.VectorFunctions]]).
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Fixed-point scale for the order-insensitive centroid sum (2^20):
    * exact long arithmetic under any combine order, ~1e-6 quantization.
    */
  val FixedScale: Double = (1L << 20).toDouble

  /** (vec_id, embedding, nrm) — the persisted scoring table. */
  private[ops] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      V.norm(col("embedding")).as("nrm"))

  /** cosine = dot / (nrm_a * nrm_b), rounded to 6dp. The `+ 0.0`
    * normalizes IEEE negative zero: Spark's HALF_UP round drops the sign
    * of a tiny negative where a C-library round keeps it, and -0.0
    * prints/hashes differently from 0.0 on replay engines.
    */
  private def cosineFromNorms(ea: String, eb: String, na: String, nb: String) =
    round(V.dot(col(ea), col(eb)) / (col(na) * col(nb)), 6) + lit(0d)

  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("long")).where(col("rank") <= k)
  }

  /** Score (q_id, n_id) id pairs by re-joining the vector tables. */
  private def score(ids: DataFrame, qv: DataFrame, cv: DataFrame): DataFrame =
    ids
      .join(qv.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")), "q_id")
      .join(cv.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm")), "n_id")
      .select(col("q_id"), col("n_id"),
        cosineFromNorms("q_emb", "n_emb", "q_nrm", "n_nrm").as("cosine"))

  /** All (query, corpus) cosine pairs with the query side broadcast — the
    * shared BNL scoring body of [[bruteTopK]] and [[bitextMine]].
    * `excludeSameId` applies the self-pair guard, which is correct ONLY
    * when both sides draw from one id space (a corpus against itself);
    * for two independently-ingested sides an id match is a coincidence,
    * not identity, and must score.
    */
  private def scoreAllPairs(corpus: DataFrame, queries: DataFrame,
      excludeSameId: Boolean): DataFrame = {
    val cv = withNorm(corpus)
    val qv = broadcast(withNorm(queries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val joined =
      if (excludeSameId) qv.join(cv, col("q_id") =!= col("vec_id"))
      else qv.crossJoin(cv)
    joined.select(col("q_id"), col("vec_id").as("n_id"),
      cosineFromNorms("q_emb", "embedding", "q_nrm", "nrm").as("cosine"))
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (driver-broadcastable): it is broadcast so the corpus never shuffles.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(scoreAllPairs(corpus, queries, excludeSameId = true), k)

  /** ColBERT-style late-interaction MaxSim retrieval over MULTI-VECTOR
    * documents: score(q, d) = Σ over q's token vectors of the max cosine
    * against any of d's token vectors — the token-level matching that a
    * single pooled vector blurs away (Khattab & Zaharia, SIGIR 2020).
    *
    * `corpus`: (doc_id, embedding), one row per document token vector;
    * `queries`: (q_id, q_tok, embedding), one row per query token
    * (`q_tok` distinguishes repeated tokens — each contributes its own
    * max). Per-token cosines round to 6dp, each per-token max quantizes
    * to micro-units, and the document score is an exact long sum —
    * order-free, engine-replayable. Output: (q_id, n_id, maxsim, rank),
    * rank by (score desc, n_id) per query, top `k`.
    *
    * Shape at scale: the [[bruteTopK]] contract — the query token table
    * broadcasts, the corpus token table scans ONCE and never shuffles
    * until the (q_id, q_tok, doc_id)-keyed max, which is map-side
    * combinable (partial maxes fold in the scan stage); the second
    * aggregate and the per-query top-k window act on query-bounded
    * rows. For the corpus×corpus regime generate candidates first (the
    * [[bitextMineScalable]] pattern) and run MaxSim over candidates.
    */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cv = corpus.select(col("doc_id"), col("embedding"),
      V.norm(col("embedding")).as("nrm"))
    val qv = broadcast(queries.select(col("q_id"), col("q_tok"),
      col("embedding").as("q_emb"), V.norm(col("embedding")).as("q_nrm")))
    val tokMax = qv.crossJoin(cv)
      .select(col("q_id"), col("q_tok"), col("doc_id"),
        cosineFromNorms("q_emb", "embedding", "q_nrm", "nrm").as("__c"))
      .groupBy(col("q_id"), col("q_tok"), col("doc_id"))
      .agg(max(col("__c")).as("__mc"))
    val sc = tokMax
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(round(col("__mc") * 1000000d).cast("long")).as("__fx"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("__fx").desc, col("doc_id").asc)
    sc.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("doc_id").as("n_id"),
        (round(col("__fx").cast("double") / 1000000d, 6) + lit(0d))
          .as("maxsim"),
        col("rank"))
  }

  /** Binary-quantized top-k: each embedding collapses to `nBits` sign-LSH
    * bits packed into ONE 64-bit code ([[graft.functions.VectorFunctions
    * .packBits]]), and neighbors rank by Hamming distance
    * `bit_count(q ^ c)` ascending (fewer disagreeing hyperplanes = smaller
    * angle, Charikar 2002). The 32x-compression tier of the search stack:
    * scalar int8 (`embed_quantize`) is 4x, PQ codes ~32x with codebook
    * lookups, sign codes are 32x with a TWO-INSTRUCTION distance (xor +
    * popcount, both Spark built-ins, whole-stage codegen'd).
    *
    * Scale shape: the corpus is read ONCE, projected to (id, 8-byte code)
    * — at 100 TB of vectors the code table is ~0.3% of the embedding
    * bytes and is the natural persisted artifact; queries broadcast, so
    * nothing shuffles but the top-k aggregation itself. Ties break by
    * n_id ascending for a total order.
    *
    * Output: (q_id, n_id, hamming, rank), rank 1..k per query.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 64): DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits must be in [1,64], got $nBits")
    val code = (df: DataFrame) => df.select(col("vec_id"),
      V.packBits(V.signBits(col("embedding"), nBits)).as("__code"))
    val q = broadcast(code(queries))
      .select(col("vec_id").as("q_id"), col("__code").as("__q"))
    val scored = q.join(code(corpus), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        V.hamming(col("__q"), col("__code")).as("hamming"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Corpus×corpus Hamming near-neighbor pairs over 60-bit sign codes —
    * the two-large-sides regime [[hammingTopK]]'s broadcast contract
    * cannot take. Each embedding collapses to a 60-bit sign-LSH code and
    * rides [[Dedup.fingerprintPairs]]'s pigeonhole banding verbatim:
    * codes within `maxHamming` differ in at most `maxHamming` of the
    * `maxHamming+1` bands, so they MUST share one band exactly —
    * recall-complete, the result EQUALS the all-pairs filter (the oracle
    * checks exactly that), and the shuffle key is the band bucket, never
    * the id cross product. Oversized buckets sub-band on the remaining
    * bits instead of going quadratic (same guard as SimHash dedup).
    *
    * Output: (vec_a, vec_b, hamming), vec_a < vec_b.
    */
  def hammingNeighbors(df: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 4096): DataFrame =
    Dedup.fingerprintPairs(
      df.select(col("vec_id").as("doc_id"),
        V.packBits(V.signBits(col("embedding"), 60)).as("simhash")),
      maxHamming, maxBucket)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        col("hamming"))

  /** (vec_id, embedding, nrm, __bits) — one persisted pass computing both
    * the scoring columns and the sign bits (a single source scan feeds the
    * band table and the score re-joins).
    */
  private def signedBase(df: DataFrame, nBits: Int): DataFrame =
    graft.util.Caches.persist(
      df.select(col("vec_id"), col("embedding"),
        V.norm(col("embedding")).as("nrm"),
        V.signBits(col("embedding"), nBits).as("__bits")))

  private def bandsOf(base: DataFrame, b: Int, r: Int): DataFrame =
    base.select(col("vec_id"),
        explode(V.bitBands(col("__bits"), b, r)).as("bd"))
      .select(col("vec_id"), col("bd.band").as("band"), col("bd.bsig").as("bsig"))

  /** Approximate top-k: only candidates sharing an LSH band are scored. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 64, b: Int = 16, r: Int = 4): DataFrame = {
    val cbase = signedBase(corpus, nBits)
    val qbase = signedBase(queries, nBits)
    val qb = bandsOf(qbase, b, r)
      .select(col("vec_id").as("q_id"), col("band"), col("bsig"))
    val cand = qb.join(bandsOf(cbase, b, r), Seq("band", "bsig"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    topK(score(cand, qbase, cbase), k)
  }

  /** Near-duplicate vector pairs: sign-LSH candidates verified by exact
    * cosine >= threshold. Output (vec_a, vec_b, cosine), vec_a < vec_b.
    * Default bands are 8x8 (tighter buckets than top-k search: an
    * all-corpus self-join needs small buckets far more than recall).
    *
    * Scale guard: r-bit band keys have fixed cardinality (2^r per band),
    * so a popular signature would still go quadratic in the self-join at
    * corpus scale. Buckets larger than `maxBucket` extend their join key
    * with the NEXT band's signature (agreement on 2r consecutive bits)
    * before joining — each extension multiplies key cardinality by 2^r.
    * Sign-LSH is probabilistic to begin with, so unlike the SimHash
    * splitter this shifts the S-curve for those buckets: a pair at bit
    * agreement p is caught by an oversized band with prob p^(2r) instead
    * of p^r (near-identical vectors, p ~ 0.96: 0.72 -> 0.52 per band, with
    * b independent chances). The trade is documented, deterministic, and
    * replayed by the oracle.
    */
  def nearDupPairs(df: DataFrame, threshold: Double,
      nBits: Int = 64, b: Int = 8, r: Int = 8,
      maxBucket: Int = 4096): DataFrame =
    // AQE off for the banding pass + bucket-size probe (an internal
    // action; see [[graft.util.Fixpoint]])
    graft.util.Fixpoint.scoped(df.sparkSession) { loop =>
    val base = signedBase(loop(df), nBits)
    // Each banded row also carries the following band's signature (cyclic)
    // as the oversized-bucket extension key.
    val bd = base.select(col("vec_id"), V.bitBands(col("__bits"), b, r).as("bds"))
      .select(col("vec_id"), col("bds"), explode(col("bds")).as("bd"))
      .select(col("vec_id"), col("bd.band").as("band"), col("bd.bsig").as("bsig"),
        element_at(col("bds"), (col("bd.band") + 1) % b + 1)
          .getField("bsig").as("nsig"))
    // persisted: one row per bucket — reused by the size probe below and
    // by the main plan, so the banding pass runs once
    val counts = graft.util.Caches.persist(bd.groupBy("band", "bsig").count())
    // The key extension is recall-lossy (per-band catch probability drops
    // from p^r to p^(2r)) — surface the trade at run time, not only in the
    // scaladoc (mirrors connectedComponents' non-convergence warn).
    val nOver = counts.where(col("count") > maxBucket).count()
    if (nOver > 0) log.warn(
      s"nearDupPairs: $nOver sign-LSH bucket(s) exceed maxBucket=$maxBucket " +
        "and join on an extended (2r-bit) key; pairs landing only in those " +
        "buckets are caught with probability p^(2r) instead of p^r per band")
    val sized = bd.join(counts, Seq("band", "bsig"))
    def pairsOf(x: DataFrame, keys: Seq[String]): DataFrame =
      x.as("x").join(x.as("y"), keys)
        .where(col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("q_id"), col("y.vec_id").as("n_id"))
    val cand = pairsOf(sized.where(col("count") <= maxBucket), Seq("band", "bsig"))
      .union(pairsOf(sized.where(col("count") > maxBucket),
        Seq("band", "bsig", "nsig")))
      .distinct()
    score(cand, base, base)
      .select(col("q_id").as("vec_a"), col("n_id").as("vec_b"), col("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** IVF top-k over k-means cells. Seeds are the deterministic subset
    * `vec_id % centroidEvery == 0`; `kmeansIters` Lloyd rounds then refine
    * them: assign every vector to its max-cosine centroid (broadcast
    * join — the centroid set is tiny), recompute each centroid as the
    * per-dimension mean of its members. Each query scans its `probes`
    * nearest final cells (probe=1 default; raising it is the standard
    * recall/cost knob). Cell ids stay the seed ids across rounds; a cell
    * that loses all members drops out.
    *
    * Centroid update — two forms:
    *
    *  - DEFAULT (`exactReplay = false`, the scale path): per-dimension
    *    FIXED-POINT sum over posexploded elements — each element is scaled
    *    by 2^20 and rounded to a long, and longs sum exactly in ANY order,
    *    so the mean is bit-deterministic under arbitrary partial/combine
    *    ordering (a float `avg()` here would drift in the last ulp with
    *    combine order). Map-side partial aggregation bounds every row and
    *    every aggregation buffer by a constant (one (cell, dim) pair each);
    *    nothing ever materializes a cell's full membership in one place.
    *    The 2^-20 quantization of centroid coordinates (~1e-6) is far
    *    below any assignment boundary that matters, and — being
    *    deterministic — is replayed exactly by the DuckDB oracle.
    *    Overflow headroom: |x|·2^20 ≲ 2^25 for unit-scale embeddings, so a
    *    single cell can absorb ~2^38 (~3·10^11) members before a long sum
    *    could wrap — beyond any real cell at 100 TB.
    *  - `exactReplay = true` (the oracle-gate path): sum SEQUENTIALLY in
    *    ascending vec_id order (sort_array(collect_list) + aggregate), so
    *    any engine reproduces the centroids bit-for-bit — the property the
    *    DuckDB hash-gate needs. The cost is one row per cell holding ALL
    *    its members: fine at test SF, an executor-OOM risk at corpus scale.
    *    Use only where bit-parity with a replaying engine is the point.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int = 100, kmeansIters: Int = 2,
      exactReplay: Boolean = false, probes: Int = 1): DataFrame = {
    require(probes > 0, s"probes must be positive, got $probes")
    val cv = graft.util.Caches.persist(withNorm(corpus))
    val centsCached = graft.util.Caches.persist(
      trainCentroids(cv, centroidEvery, kmeansIters, exactReplay))
    val qv = graft.util.Caches.persist(withNorm(queries))
    val cells = assignCells(cv, "vec_id", centsCached)
    // multi-probe: each query scans its `probes` nearest cells — the
    // standard IVF recall knob (cost scales with probes/nCells of the
    // corpus; cells are disjoint so candidates never duplicate)
    val qcells = assignCells(qv.withColumnRenamed("vec_id", "q_id"), "q_id",
      centsCached, probes)
    val cand = qcells.join(cells, Seq("cell"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
    // score queries from the QUERY table: queries need not be corpus rows
    topK(score(cand, qv, cv), k)
  }

  /** First-class k-means clustering over the embedding column — the
    * shared [[trainCentroids]]/[[assignCells]] machinery (seeds
    * `vec_id % centroidEvery == 0`, `iters` Lloyd rounds, max-cosine
    * assignment with min-id tie-break) exposed as its own operator
    * rather than only inside IVF/SemDeDup: corpus partitioning into
    * ~`centroidEvery`-sized cells is the building block for
    * cluster-balanced sampling, per-cluster inspection, and any
    * "bucket then work within buckets" curation recipe.
    *
    * Output: (vec_id, cell, cell_size) for every input vector. The
    * default centroid update is the order-insensitive fixed-point path
    * (bit-deterministic at any parallelism — the [[ivfTopK]] contract);
    * `exactReplay = true` swaps in the sequential-sum form. Cell count
    * scales with the corpus (n/centroidEvery), so the centroid broadcast
    * stays bounded by choosing `centroidEvery` ∝ corpus/target-cells.
    */
  def kmeans(df: DataFrame, centroidEvery: Int = 100, iters: Int = 2,
      exactReplay: Boolean = false): DataFrame = {
    val cv = graft.util.Caches.persist(withNorm(df))
    val cents = trainCentroids(cv, centroidEvery, iters, exactReplay)
    val cells = assignCells(cv, "vec_id", cents)
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("cell_size"))
    cells.join(sizes, "cell")
      .select(col("vec_id"), col("cell"), col("cell_size"))
  }

  /** Per-cell MEDOID selection — the coreset / diverse-representative
    * primitive: train the shared deterministic k-means ([[kmeans]] /
    * [[ivfTopK]] contract), then keep each cell's member with the
    * highest cosine to its FINAL centroid (ties to the min vec_id). The
    * result is ~n/centroidEvery real corpus vectors that together cover
    * the embedding space — the "pick k representative documents"
    * selection behind dataset summarization, prototype-based labeling
    * budgets, and SemDeDup-style cluster inspection, with an actual
    * document per cell where the centroid itself is a synthetic mean.
    *
    * Output: (cell, medoid, cosine 6dp, cell_size), one row per
    * non-empty cell.
    *
    * Shape at scale: the k-means machinery's own passes plus ONE
    * member-to-own-centroid cosine projection (centroid table broadcast)
    * and a map-side-combinable max-of-struct argmax per cell — no
    * window, no pair enumeration; output is cell-bounded.
    */
  def medoids(df: DataFrame, centroidEvery: Int = 100, iters: Int = 2,
      exactReplay: Boolean = false): DataFrame = {
    val cv = graft.util.Caches.persist(withNorm(df))
    val cents = trainCentroids(cv, centroidEvery, iters, exactReplay)
    val cells = assignCells(cv, "vec_id", cents)
    val cn = cents.select(col("c_id").as("cell"), col("c_emb"),
      V.norm(col("c_emb")).as("c_nrm"))
    cells.join(cv, "vec_id")
      .join(broadcast(cn), "cell")
      .select(col("cell"), col("vec_id"),
        cosineFromNorms("embedding", "c_emb", "nrm", "c_nrm").as("__c"))
      .groupBy("cell")
      .agg(count(lit(1)).as("cell_size"),
        max(struct(col("__c"), (-col("vec_id")).as("__nid"))).as("__m"))
      .select(col("cell"), (-col("__m.__nid")).as("medoid"),
        col("__m.__c").as("cosine"), col("cell_size"))
  }

  /** Assign each row of `df` to its `topN` max-cosine centroids (the
    * centroid table broadcasts; ties break to the min centroid id).
    */
  private[ops] def assignCells(df: DataFrame, id: String, cents: DataFrame,
      topN: Int = 1): DataFrame = {
    val scored = scoreAgainstCentroids(df, id, cents)
    if (topN == 1)
      // argmax as a map-side-combinable MAX over (cos, -c_id): the same
      // total order as the row_number window below ((cos desc, c_id
      // asc) — max cosine, ties to the min centroid id), but partial
      // aggregation folds in the scan stage instead of shuffling and
      // sorting every (row × centroid) pair by the id (round 19; the
      // window paid one full-width exchange + sort per assignment pass,
      // and training runs one pass per Lloyd round).
      scored.groupBy(col(id))
        .agg(max(struct(col("c_cos"), (-col("c_id")).as("__nc"))).as("__m"))
        .select(col(id), (-col("__m.__nc")).as("cell"))
    else {
      val w = Window.partitionBy(col(id))
        .orderBy(col("c_cos").desc, col("c_id").asc)
      // embedding projected away BEFORE the window: the sort must not
      // carry the vector payload (the optimizer prunes it from the
      // argmax branch on its own)
      scored.select(col(id), col("c_id"), col("c_cos"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= topN)
        .select(col(id), col("c_id").as("cell"))
    }
  }

  /** (id, c_id, c_cos) for every (row, centroid) pair — the shared
    * broadcast scoring projection of [[assignCells]] and
    * [[assignCellsWithEmbedding]].
    */
  private def scoreAgainstCentroids(df: DataFrame, id: String,
      cents: DataFrame): DataFrame = {
    val withNrm = cents.select(col("c_id"), col("c_emb"),
      V.norm(col("c_emb")).as("c_nrm"))
    df.join(broadcast(withNrm))
      .select(col(id), col("c_id"),
        cosineFromNorms("embedding", "c_emb", "nrm", "c_nrm").as("c_cos"),
        col("embedding"))
  }

  /** [[assignCells]] (topN = 1) that also carries each row's embedding
    * through the argmax struct — (vec_id, cell, embedding) with NO
    * re-join against the vector table (round 19: the Lloyd rounds and
    * the cell-store writers all paid an extra vec_id-keyed join just to
    * re-attach the embedding they had already scanned). The embedding
    * rides as the LAST struct field: c_id is unique per (row, centroid)
    * pair, so the comparison never reaches it.
    */
  private def assignCellsWithEmbedding(cv: DataFrame,
      cents: DataFrame): DataFrame =
    scoreAgainstCentroids(cv, "vec_id", cents)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("c_cos"), (-col("c_id")).as("__nc"),
        col("embedding").as("__e"))).as("__m"))
      .select(col("vec_id"), (-col("__m.__nc")).as("cell"),
        col("__m.__e").as("embedding"))

  /** The k-means loop shared by [[ivfTopK]] and [[ivfWrite]]: seeds are
    * the deterministic `vec_id % centroidEvery == 0` subset, then
    * `kmeansIters` Lloyd rounds under the centroid-update contract
    * documented on [[ivfTopK]]. `cv` must be a [[withNorm]] table.
    */
  private[ops] def trainCentroids(cv: DataFrame, centroidEvery: Int,
      kmeansIters: Int, exactReplay: Boolean): DataFrame = {
    // Centroids as array<double>: means live in double space; float
    // seeds widen exactly.
    var centroids = cv.where(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("c_id"),
        transform(col("embedding"), _.cast("double")).as("c_emb"))
    for (_ <- 0 until kmeansIters) {
      val members = assignCellsWithEmbedding(cv, centroids)
      centroids =
        if (exactReplay)
          members
            .groupBy(col("cell").as("c_id"))
            .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
              .as("ms"))
            .select(col("c_id"),
              transform(
                sequence(lit(1), size(element_at(col("ms"), 1).getField("embedding"))),
                d => aggregate(col("ms"), lit(0.0),
                  (acc, m) => acc + element_at(m.getField("embedding"), d))
                  / size(col("ms"))).as("c_emb"))
        else
          // scale path: explode to (cell, dim, x) and let a partial SUM of
          // fixed-point longs do the work — shuffle rows and agg buffers
          // are O(cells * dim), never O(cell membership), and the long sum
          // is order-insensitive so the result is bit-deterministic; the
          // only collect_list left is the dim-indexed reassembly, bounded
          // at `dim` elements per cell
          members
            .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
            .groupBy(col("cell"), col("d"))
            .agg(sum(round(col("x").cast("double") * FixedScale).cast("long")).as("s"),
              count(lit(1)).as("n"))
            .groupBy(col("cell"))
            .agg(transform(
              sort_array(collect_list(struct(col("d"),
                (col("s").cast("double") / col("n") / FixedScale).as("m")))),
              e => e.getField("m")).as("c_emb"))
            .select(col("cell").as("c_id"), col("c_emb"))
    }
    centroids
  }

  /** Materialize an IVF index as a PARTITIONED VECTOR STORE: centroids
    * are trained exactly as in [[ivfTopK]], every corpus vector lands
    * under `outDir/cells` partitioned by its cell id, and the centroid
    * table lands under `outDir/centroids`. [[ivfQueryIndex]] then serves
    * queries touching only the probed cells' DIRECTORIES — the vector
    * analogue of [[Layout.zorderWrite]]'s skipping index, and the reason
    * an IVF index exists at all: at 100 TB a query reads probes/nCells
    * of the corpus, not the corpus.
    *
    * Replacing an index is DESTRUCTIVE (mode Overwrite on both halves),
    * so it sits behind the same `confirm.truncate=true` latch as every
    * other destructive write in the engine.
    */
  def ivfWrite(corpus: DataFrame, outDir: String, centroidEvery: Int = 100,
      kmeansIters: Int = 2, exactReplay: Boolean = false,
      options: Map[String, String] = Map.empty): DataFrame = {
    if (!options.get("confirm.truncate").exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        "ivfWrite overwrites the index under " + outDir +
          ": pass confirm.truncate=true (destructive-write latch)")
    val cv = graft.util.Caches.persist(withNorm(corpus))
    val cents = trainCentroids(cv, centroidEvery, kmeansIters, exactReplay)
    assignCellsWithEmbedding(cv, cents)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$outDir/cells")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    corpus.sparkSession.read.parquet(s"$outDir/centroids")
  }

  /** Incremental append to an [[ivfWrite]] index: new vectors are
    * assigned to the EXISTING centroids (broadcast, tiny) and their cell
    * files land beside the old ones — mode Append on a partitioned
    * store, so only the touched cells' directories gain files and
    * nothing is rewritten. This is the vector-store ingest path: a
    * daily embedding batch joins a 100 TB index for the cost of the
    * batch, and [[ivfQueryIndex]] serves the union immediately (the
    * append spec asserts bit-equality with an index built whole under
    * the same centroids). Centroids deliberately do NOT retrain here —
    * retraining would reshuffle every existing cell assignment
    * (a rebuild, not an append); drift is the rebuild trigger, measured
    * e.g. by [[graft.ops.Profile.drift]] over cell populations.
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, outDir: String,
      newVecs: DataFrame): Unit = {
    val cents = spark.read.parquet(s"$outDir/centroids")
    val nv = withNorm(newVecs)
    assignCellsWithEmbedding(nv, cents)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .write.partitionBy("cell").mode("append")
      .parquet(s"$outDir/cells")
  }

  /** Top-k over an [[ivfWrite]] index. The query side assigns to its
    * `probes` nearest centroids (broadcast, tiny), and the candidate
    * join against the cell-partitioned store is keyed on the PARTITION
    * column — Spark's dynamic partition pruning reads only the probed
    * cells' directories (asserted in SimilaritySpec). Norms are
    * recomputed from the stored float vectors, so scores are
    * bit-identical to the in-memory [[ivfTopK]] under the same training
    * parameters.
    */
  def ivfQueryIndex(spark: org.apache.spark.sql.SparkSession, outDir: String,
      queries: DataFrame, k: Int, probes: Int = 1): DataFrame = {
    require(probes > 0, s"probes must be positive, got $probes")
    val cents = spark.read.parquet(s"$outDir/centroids")
    val qv = graft.util.Caches.persist(withNorm(queries))
    val qcells = assignCells(qv.withColumnRenamed("vec_id", "q_id"), "q_id",
      cents, probes)
    val data = spark.read.parquet(s"$outDir/cells")
    val cand = data.join(broadcast(qcells), Seq("cell"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
    topK(score(cand, qv, withNorm(data)), k)
  }

  /** Per-group embedding centroids (class prototypes): the per-dimension
    * mean of every group's vectors, in long format (group, d, centroid) —
    * the prototype table behind nearest-class-mean classification,
    * per-source drift monitoring, and IVF-style seeding from labels.
    *
    * Same determinism contract as [[standardize]]: fixed-point ×2^20
    * sums in DECIMAL(38,0), exact and order-insensitive under any
    * partitioning, mean rounded 6dp (+0.0 clears IEEE -0). Shape at
    * scale: posexplode then ONE map-side-combined aggregation keyed
    * (group, dim) — output is groups × dims rows, the corpus never
    * shuffles row payloads.
    */
  def centroids(df: DataFrame, groupCol: String): DataFrame =
    df.select(col(groupCol).cast("long").as(groupCol),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col(groupCol), col("d"), col("x").cast("double").as("v"))
      .groupBy(groupCol, "d")
      .agg(
        sum(round(col("v") * FixedScale).cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      .select(col(groupCol), col("d").cast("long").as("d"),
        (round(col("s").cast("double") / col("n") / FixedScale, 6)
          + lit(0d)).as("centroid"))

  /** Per-dimension standardization (z-scoring) of an embedding column —
    * the whitening pre-pass before distance computations, clustering or
    * quantization when dimensions have unequal scales. Output:
    * (vec_id, z) with z[d] = (x[d] - mean_d) / std_d rounded to 6dp
    * (constant dimensions yield 0, not NaN).
    *
    * Per-dimension sums use the order-insensitive fixed-point (×2^20)
    * trick of the IVF centroid update, accumulated in DECIMAL(38,0) so
    * means and variances are EXACT under any partitioning/combine order,
    * replay bit-identically on any engine, and cannot overflow for any
    * |x| below ~3e8 at any corpus size (the double-precision limit of
    * round(x²·2^20), far above any sane embedding). Shape at scale:
    * posexplode to (dim, value) — map-side-combined aggregation down to
    * `dim` rows — then the dim-indexed mean/std arrays (one small row)
    * broadcast back across the corpus; the embedding table itself never
    * shuffles.
    */
  def standardize(df: DataFrame): DataFrame = {
    val x = df.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"), col("x").cast("double").as("v"))
    val stats = x.groupBy("d").agg(
      sum(round(col("v") * FixedScale).cast("decimal(38,0)")).as("s"),
      sum(round(col("v") * col("v") * FixedScale).cast("decimal(38,0)"))
        .as("ss"),
      count(lit(1)).as("n"))
    val m = col("s").cast("double") / col("n") / FixedScale
    val ex2 = col("ss").cast("double") / col("n") / FixedScale
    val moments = stats.select(col("d"), m.as("m"),
      sqrt(greatest(ex2 - m * m, lit(0d))).as("sd"))
    // dim-indexed arrays in one broadcastable row
    val arrs = moments.groupBy().agg(
      transform(sort_array(collect_list(struct(col("d"), col("m")))),
        e => e.getField("m")).as("__ms"),
      transform(sort_array(collect_list(struct(col("d"), col("sd")))),
        e => e.getField("sd")).as("__sds"))
    // guard: sequence(0, -1) on an empty embedding yields the DESCENDING
    // [0,-1], which zip_with would null-pad into a bogus 2-element vector
    df.crossJoin(broadcast(arrs))
      .select(col("vec_id"),
        when(size(col("embedding")) > 0,
          zip_with(col("embedding").cast("array<double>"),
            sequence(lit(0), size(col("embedding")) - 1),
            (xv, i) => round(
              when(element_at(col("__sds"), i + 1) > 0,
                (xv - element_at(col("__ms"), i + 1))
                  / element_at(col("__sds"), i + 1))
                .otherwise(0d), 6) + lit(0d)))
          .otherwise(array().cast("array<double>")).as("z"))
  }

  /** Plan-time replica of h32 for constant keys: first 8 md5 hex chars of
    * the utf8 bytes mod P — identical to the SQL forms both engines run,
    * so a projection matrix seeded from it replays anywhere.
    */
  private def h32Const(s: String): Long =
    graft.functions.ExprKernels.md5h32(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Hash-sign (Rademacher) random projection to `outDim` dimensions —
    * the Johnson-Lindenstrauss dimensionality reduction that shrinks an
    * embedding corpus before ANN indexing / pair generation:
    * z_j = Σ_i x_i·s(i,j) / √outDim with s(i,j) ∈ {±1} drawn from
    * h32("i_j") — Achlioptas 2003's database-friendly projection, no
    * dense Gaussian matrix to ship, reproducible on any engine.
    *
    * The sign matrix is resolved at PLAN time (outDim sign-array literals
    * of inDim longs each), so the whole operator is one narrow
    * projection: no explode of the corpus, no join, NO SHUFFLE — at
    * 100 TB it streams. The ×2^20 fixed-point longs of [[standardize]]
    * (exact, order-free, replayable) are materialized ONCE per row in
    * their own projection (the wordShingles lesson: a value referenced
    * outDim times must not re-inline, or interpreted evaluation re-casts
    * the array per reference — the first form of this operator did
    * exactly that, re-evaluating `cast(embedding)` inDim·outDim times
    * per row, 7s instead of 0.3s at sf0.1), then each z_j is one
    * zip_with/aggregate pass over the fixed array. Rows whose embedding
    * is not exactly `inDim` wide are dropped (ragged vectors cannot
    * project).
    *
    * Output long-format (vec_id, j, z) — one row per output dimension.
    */
  def projectSigned(df: DataFrame, inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"dims must be >= 1, got $inDim -> $outDim")
    val scale = math.sqrt(outDim.toDouble)
    val fixed = transform(col("embedding"),
      x => round(x.cast("double") * FixedScale).cast("long"))
    val zs = (0 until outDim).map { j =>
      val signs = typedlit((0 until inDim).map(i =>
        if (h32Const(s"${i}_$j") % 2 == 0) 1L else -1L))
      val dot = aggregate(
        zip_with(col("__f"), signs, (f, s) => f * s),
        lit(0L), (acc, x) => acc + x)
      round(dot.cast("double") / FixedScale / scale, 6) + lit(0d)
    }
    df.where(size(col("embedding")) === inDim)
      .select(col("vec_id"), fixed.as("__f"))
      .select(col("vec_id"), posexplode(array(zs: _*)).as(Seq("j", "z")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("z"))
  }

  /** Scalar (per-dimension min-max) int8 quantization of the embedding
    * column — the standard memory-compression step before a 100 TB ANN
    * index: 4 bytes/dim float32 becomes 1 byte/dim, a 4× reduction in
    * index footprint and shuffle volume for every downstream candidate
    * pass. Output: (vec_id, q) with
    * q[d] = clamp(floor((x[d] - lo_d) / (hi_d - lo_d) * (levels-1) + 0.5))
    * (constant dimensions quantize to 0). floor(x + 0.5) instead of
    * round() so both engines take the identical half-up path regardless
    * of their native rounding mode (Spark HALF_UP vs C HALF_EVEN).
    *
    * Shape at scale: per-dimension lo/hi come from one map-side-combined
    * min/max aggregate over the posexploded (dim, value) pairs — `dims`
    * rows out — then the dim-indexed bound arrays (one broadcastable row)
    * rejoin the corpus; the embedding table itself never shuffles, same
    * as [[standardize]].
    */
  def quantize(df: DataFrame, levels: Int = 256): DataFrame = {
    require(levels >= 2, s"levels must be >= 2, got $levels")
    val x = df.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"), col("x").cast("double").as("v"))
    val bounds = x.groupBy("d").agg(min("v").as("lo"), max("v").as("hi"))
    val arrs = bounds.groupBy().agg(
      transform(sort_array(collect_list(struct(col("d"), col("lo")))),
        e => e.getField("lo")).as("__los"),
      transform(sort_array(collect_list(struct(col("d"), col("hi")))),
        e => e.getField("hi")).as("__his"))
    val top = lit((levels - 1).toDouble)
    df.crossJoin(broadcast(arrs))
      .select(col("vec_id"),
        when(size(col("embedding")) > 0,
          zip_with(col("embedding").cast("array<double>"),
            sequence(lit(0), size(col("embedding")) - 1),
            (xv, i) => {
              val lo = element_at(col("__los"), i + 1)
              val hi = element_at(col("__his"), i + 1)
              least(top, greatest(lit(0d),
                when(hi > lo,
                  floor((xv - lo) / (hi - lo) * top + lit(0.5)))
                  .otherwise(0d))).cast("long")
            }))
          .otherwise(array().cast("array<long>")).as("q"))
  }

  /** Semantic (cluster-scoped) dedup, the SemDeDup recipe (Abbas et al.
    * 2023): cluster the corpus with the shared k-means machinery, then
    * within each cell drop every vector that has a LOWER-id cell-mate at
    * cosine >= `threshold`. Complements [[nearDupPairs]]: sign-LSH
    * catches near-identical vectors anywhere in the corpus; the
    * cluster-scoped pass catches merely-similar vectors that share a
    * semantic neighborhood (LSH band collision probability is too low for
    * moderate cosine), at the price of only comparing within a cell.
    * Returns the SURVIVORS as (vec_id, cell).
    *
    * Shape at scale: the centroid count grows with the corpus (seeds are
    * `vec_id % centroidEvery == 0`), so EXPECTED CELL POPULATION stays
    * ~`centroidEvery` no matter the corpus size — the intra-cell
    * self-join is O(n * centroidEvery), linear in the corpus, never
    * global-quadratic. Centroids broadcast (tiny); the per-cell join
    * shuffles both sides on `cell` once; the final anti-join is a
    * key-partitioned hash join. Uses the fixed-point (order-insensitive)
    * centroid path, so results are bit-deterministic and oracle-replayable.
    */
  def semanticDedup(df: DataFrame, threshold: Double,
      centroidEvery: Int = 100, kmeansIters: Int = 1): DataFrame = {
    val cv = graft.util.Caches.persist(withNorm(df))
    val cents = trainCentroids(cv, centroidEvery, kmeansIters,
      exactReplay = false)
    // persisted: the cell table feeds both sides of the pair join AND the
    // survivor anti-join
    val cells = graft.util.Caches.persist(assignCells(cv, "vec_id", cents))
    val scored = cells.join(cv, "vec_id")
    val dropped = scored.as("x").join(scored.as("y"), "cell")
      .where(col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"),
        cosineFromNorms("x.embedding", "y.embedding", "x.nrm", "y.nrm")
          .as("__cos"))
      .where(col("__cos") >= threshold)
      .select("vec_id").distinct()
    cells.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Hard-negative mining for contrastive training: for each anchor in
    * `queries`, the top-`k` most-similar corpus vectors whose `labelCol`
    * DIFFERS from the anchor's — the "confusable but wrong" examples a
    * metric-learning loss wants. Output (q_id, q_label, n_id, n_label,
    * cosine, rank).
    *
    * Plan shape = [[bruteTopK]] with the label inequality fused into the
    * broadcast nested-loop condition: the anchor side (small by contract)
    * is broadcast WITH its labels, so the corpus is scanned once, never
    * shuffled, and mismatched-label filtering happens before any scoring
    * row materializes. At mining scale (many anchors) the same label
    * filter drops into [[annTopK]]'s candidate join instead — the LSH
    * bucket key stays label-free so recall is unchanged.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    def labeledNorm(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("embedding"), col(labelCol).as("__lbl"),
        V.norm(col("embedding")).as("nrm"))
    val cv = labeledNorm(corpus)
    val qv = broadcast(labeledNorm(queries))
    val pairs = qv
      .select(col("vec_id").as("q_id"), col("__lbl").as("q_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .join(cv, col("q_id") =!= col("vec_id") &&
        col("q_label") =!= col("__lbl"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("__lbl").as("n_label"),
        cosineFromNorms("q_emb", "embedding", "q_nrm", "nrm").as("cosine"))
    topK(pairs, k)
      .select("q_id", "q_label", "n_id", "n_label", "cosine", "rank")
  }

  /** Margin-based bitext mining (the Artetxe & Schwenk 2019 margin
    * criterion, "distance margin" variant): candidate translation pairs
    * between two embedding sides. For each vector on side `a`, its best
    * and second-best cosine neighbors on side `b`; the margin is the gap
    * between them. A high best-score alone is not enough — hub vectors
    * score high against EVERYTHING — so the margin demands the best
    * match beat the runner-up decisively; margin filtering, not raw
    * cosine thresholding, is the standard mined-bitext quality gate.
    *
    * Output per side-a vector clearing `minMargin`:
    * (q_id, n_id, cosine, runner_up, margin) with
    * margin = cosine − runner_up over the 6dp-rounded scores — the
    * difference of two bit-identical doubles, deliberately NOT
    * re-rounded (a second rounding would sit on exact midpoints where
    * HALF_UP and C round disagree). A side-b of one vector has no
    * runner-up: runner_up is 0.0 and the margin degenerates to the
    * score itself.
    *
    * Shape at scale: side `a` is the broadcast query side (mining is
    * usually sample-vs-corpus); side `b` never shuffles — the
    * [[bruteTopK]] broadcast-nested-loop shape at k=2 plus one window
    * over the candidate slice. For corpus×corpus mining run the same
    * margin over the persisted IVF index's probed candidates instead.
    *
    * The two sides are INDEPENDENT id spaces: an id appearing on both
    * sides is a coincidence, not the same vector, so (unlike
    * [[bruteTopK]]'s self-corpus contract) no self-pair exclusion
    * applies — every cross-side pair scores.
    */
  def bitextMine(a: DataFrame, b: DataFrame,
      minMargin: Double): DataFrame =
    marginFromTop2(topK(scoreAllPairs(b, a, excludeSameId = false), 2),
      minMargin)

  /** The margin tail shared by [[bitextMine]] and [[bitextMineScalable]]:
    * collapse a rank<=2 table to (best, runner-up) per query and keep
    * queries whose margin clears the bar.
    */
  private def marginFromTop2(ranked: DataFrame,
      minMargin: Double): DataFrame =
    ranked
      .groupBy("q_id")
      .agg(
        max(when(col("rank") === 1,
          struct(col("cosine"), col("n_id")))).as("__best"),
        max(when(col("rank") === 2, col("cosine"))).as("__second"))
      .select(col("q_id"), col("__best.n_id").as("n_id"),
        col("__best.cosine").as("cosine"),
        coalesce(col("__second"), lit(0d)).as("runner_up"))
      .withColumn("margin", col("cosine") - col("runner_up"))
      .where(col("margin") >= minMargin)

  /** [[bitextMine]] for TWO LARGE SIDES — the corpus×corpus regime where
    * the broadcast-nested-loop contract breaks (neither side fits a
    * broadcast, and O(|A|·|B|) comparisons are unpayable regardless).
    * Candidates come from the sign-LSH banding both sides already use
    * for [[annTopK]]: only cross-side pairs sharing a (band, signature)
    * bucket are scored, and the margin (best − runner-up) is computed
    * over each query's candidate set. Same output contract as
    * [[bitextMine]]; approximate where the BNL is exact — a query whose
    * true best or runner-up never shares a bucket reports a margin over
    * what LSH surfaced (at gate scale the default banding recalls the
    * exact result — pinned by SimilaritySpec — and b/r trade recall for
    * cost the standard way).
    *
    * Scale shape: one persisted signature pass per side; the candidate
    * join is keyed (band, bsig) — id pairs only, payloads re-join for
    * scoring; candidate volume is governed by bucket sizes, never
    * |A|·|B|. The [[nearDupPairs]] oversized-bucket guard applies: a
    * bucket with more than `maxBucket` rows ACROSS THE TWO SIDES joins
    * on the extended (2r-bit) key, so one hot signature cannot go
    * quadratic; the extension is recall-lossy for those buckets
    * (p^(2r) per band instead of p^r) and warned at run time.
    */
  def bitextMineScalable(a: DataFrame, b: DataFrame, minMargin: Double,
      nBits: Int = 64, bands: Int = 16, r: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    val abase = signedBase(a, nBits)
    val bbase = signedBase(b, nBits)
    def bandsWithNext(base: DataFrame): DataFrame =
      base.select(col("vec_id"),
          V.bitBands(col("__bits"), bands, r).as("bds"))
        .select(col("vec_id"), col("bds"), explode(col("bds")).as("bd"))
        .select(col("vec_id"), col("bd.band").as("band"),
          col("bd.bsig").as("bsig"),
          element_at(col("bds"), (col("bd.band") + 1) % bands + 1)
            .getField("bsig").as("nsig"))
    val ab = bandsWithNext(abase)
    val bb = bandsWithNext(bbase)
    // bucket population counted over BOTH sides: the join cost of bucket
    // k is |A_k|·|B_k|, bounded by (|A_k|+|B_k|)² — one count table
    // governs both sides' key extension decision deterministically
    val counts = graft.util.Caches.persist(
      ab.select("band", "bsig").unionAll(bb.select("band", "bsig"))
        .groupBy("band", "bsig").count())
    val nOver = counts.where(col("count") > maxBucket).count()
    if (nOver > 0) log.warn(
      s"bitextMineScalable: $nOver sign-LSH bucket(s) exceed " +
        s"maxBucket=$maxBucket and join on an extended (2r-bit) key; " +
        "pairs landing only in those buckets are caught with probability " +
        "p^(2r) instead of p^r per band")
    val as = ab.join(counts, Seq("band", "bsig"))
    val bs = bb.join(counts, Seq("band", "bsig"))
    def candOf(x: DataFrame, y: DataFrame, keys: Seq[String]): DataFrame =
      x.select((keys :+ "vec_id").map(col): _*)
        .withColumnRenamed("vec_id", "q_id")
        .join(y.select((keys :+ "vec_id").map(col): _*), keys)
        .select(col("q_id"), col("vec_id").as("n_id"))
    val cand = candOf(as.where(col("count") <= maxBucket),
        bs.where(col("count") <= maxBucket), Seq("band", "bsig"))
      .union(candOf(as.where(col("count") > maxBucket),
        bs.where(col("count") > maxBucket), Seq("band", "bsig", "nsig")))
      .distinct()
    marginFromTop2(topK(score(cand, abase, bbase), 2), minMargin)
  }

  /** Recall@k of the sign-LSH ANN path against exact brute-force ground
    * truth, per query: (q_id, hits, recall) where `hits` counts ANN
    * results appearing in the exact top-k and recall = hits/k. The
    * standard ANN quality gauge (Aumüller et al., ann-benchmarks) — run it
    * on a query SAMPLE after any b/r/nBits retune; the full corpus never
    * pays for its own evaluation.
    *
    * Both sides reuse their operators' plans ([[bruteTopK]] broadcast
    * nested-loop, [[annTopK]] bucket join); the comparison itself is an
    * id-only left-semi-shaped join on (q_id, n_id) plus one small groupBy
    * — nothing wider than ids ever shuffles. The left join keeps
    * zero-recall queries visible (an inner join would silently drop the
    * worst case the eval exists to catch).
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 64, b: Int = 16, r: Int = 4): DataFrame = {
    val truth = bruteTopK(corpus, queries, k).select("q_id", "n_id")
    val approx = annTopK(corpus, queries, k, nBits, b, r)
      .select(col("q_id"), col("n_id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(coalesce(sum("__hit"), lit(0L)).as("hits"))
      .select(col("q_id"), col("hits"),
        round(col("hits") / k.toDouble, 6).as("recall"))
  }

  /** One-row embedding HEALTH report — the "is this vector table sane"
    * screen before an ANN index or similarity pass: wrong-dimension /
    * null rows, non-finite values, zero-norm vectors (cosine-undefined),
    * and the mean L2 norm of the healthy remainder. A corrupt export
    * (truncated arrays, NaN from an overflowed encoder, all-zero
    * padding rows) surfaces here as a count, not as a mid-job crash in
    * the index builder.
    *
    * Counts are disjoint tiers: bad_dim ⊃-free of nonfinite ⊃-free of
    * zero — each vector lands in exactly one bucket (or the healthy
    * mean). Mean norm is a fixed-point DECIMAL sum of the native
    * sequential-fold norms — exact under any combine order. ONE
    * map-side-combined aggregation; nothing shuffles but partials.
    */
  def embeddingHealth(df: DataFrame, vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val e = col(vecCol)
    val nrm = graft.functions.VectorFunctions.norm(e)
    val bad = e.isNull || size(e) =!= dim
    val nonfinite = exists(e, x => {
      val xd = x.cast("double")
      isnan(xd) || xd === lit(Double.PositiveInfinity) ||
        xd === lit(Double.NegativeInfinity)
    })
    val healthy = !bad && !nonfinite
    df.agg(
        count(lit(1)).as("n_vecs"),
        sum(when(bad, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(!bad && nonfinite, 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(healthy && nrm === 0d, 1L).otherwise(0L)).as("n_zero"),
        sum(when(healthy, round(nrm * FixedScale)).otherwise(0d)
          .cast("decimal(38,0)")).as("__s"),
        sum(when(healthy, 1L).otherwise(0L)).as("__k"))
      .select(col("n_vecs"), col("n_bad_dim"), col("n_nonfinite"),
        col("n_zero"),
        when(col("__k") > 0,
          round(col("__s").cast("double") / col("__k") / FixedScale, 6))
          .as("mean_norm"))
  }

  /** Squared-L2 distance, 6dp, -0-normalized — the [[kcenter]]
    * comparison key (the [[Pq]] convention: native sequential kernel,
    * bit-identical to an ordered fold on any replay engine).
    */
  private def sqDist6(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    round(org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Expressions.SquaredL2(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b))), 6) + lit(0d)

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal —
    * the classical 2-approximation to the k-center cover): seed with
    * the min `vec_id`, then k−1 times pick the vector FARTHEST from the
    * selected set (squared-L2, ties to the min id) and fold it in. The
    * selected k vectors cover the corpus within the reported radius —
    * the "pick k maximally-diverse real examples" primitive behind
    * coreset selection for training-data budgets, diverse eval-set
    * construction, and seeding k-means better than modulo sampling
    * ([[medoids]] picks per-cell REPRESENTATIVES; kcenter picks a
    * global COVER — the two ends of the diversity-selection spectrum).
    *
    * Output one row per selected center (ordered by rank):
    * (rank, center, sel_dist, coverage) — `sel_dist` is the min
    * distance to the previously-selected set at selection time (NULL
    * for the seed; non-increasing in rank — each new center is the
    * current worst-covered point), `coverage` repeats the FINAL
    * max-min-distance (the k-cover radius; the number to plot against
    * k when choosing the budget).
    *
    * Determinism: distances are the 6dp-rounded native sequential
    * kernel; the argmax is a lexicographic struct max (distance, then
    * min id — unique per row, so the embedding field rides along
    * without ever participating in the comparison); every round's
    * new-center embedding enters the plan as a LITERAL, so the
    * min-distance state is a pure projection any engine replays.
    *
    * Shape at scale: k passes over the corpus, each ONE narrow
    * projection (distance against a literal center) + ONE map-side-
    * combined struct-max aggregate — the winning row's EMBEDDING is
    * carried inside the max struct (round 19: the previous shape
    * re-scanned the persisted corpus with a `vec_id === id` filter to
    * fetch it, doubling the per-round passes — 64 avoidable scans at
    * k=64); no shuffle of the corpus, no window, no pair enumeration;
    * state re-persists per round with immediate eviction (flat
    * lineage). Driver state is k rows of (id, distance) plus one
    * center embedding at a time. k is capped at 64: the loop is k
    * sequential jobs by construction (Gonzalez is inherently
    * sequential); larger budgets belong to [[medoids]] / cell-based
    * selection. k must not exceed the corpus row count (fewer rows
    * than centers would re-select an already-chosen point at distance
    * 0 and emit duplicate center rows); a corpus of exact-duplicate
    * embeddings that reaches a radius-0 cover before k stops EARLY
    * with the centers found — a 0-distance "farthest point" is an
    * already-covered point, not a center.
    */
  def kcenter(df: DataFrame, k: Int): DataFrame =
    graft.util.Fixpoint.scoped(df.sparkSession) { loop =>
    require(k >= 2 && k <= 64, s"k must be in [2, 64], got $k")
    val spark = loop.spark
    import spark.implicits._
    val cv = graft.util.Caches.persist(
      loop(df).select(col("vec_id"), col("embedding")))
    val n = cv.count() // also materializes the persist before the loop
    require(n >= k,
      s"kcenter: k=$k exceeds the corpus ($n vectors) — every center " +
        "must be a distinct input row")
    val first = cv.orderBy("vec_id").limit(1).collect()
    val seedId = first.head.getLong(0)
    val seedEmb = first.head.getSeq[Float](1)
    val state0 = graft.util.Caches.persist(
      cv.select(col("vec_id"), col("embedding"),
        sqDist6(col("embedding"), typedLit(seedEmb)).as("__d")))
    state0.count()
    val centers = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, java.lang.Double)]
    centers += ((1L, seedId, null))
    val state = graft.util.Fixpoint.iterate(state0, k - 1, "kcenter",
        hold = graft.util.Fixpoint.Count) { state =>
      val top = state
        .agg(max(struct(col("__d"), (-col("vec_id")).as("__nid"),
          col("embedding"))).as("__m"))
        .select((-col("__m.__nid")).as("id"), col("__m.__d").as("d"),
          col("__m.embedding").as("emb"))
        .collect().head
      val (cid, selDist) = (top.getLong(0), top.getDouble(1))
      if (selDist == 0d) {
        // radius-0 cover: every remaining point duplicates a selected
        // center; the argmax would re-pick a chosen id — stop with the
        // genuine centers found (loud, because a caller asking for k
        // probably didn't expect a duplicate-saturated corpus)
        System.err.println(s"kcenter: corpus covered at radius 0 by " +
          s"${centers.size} of the requested $k centers; stopping early")
        state
      } else {
        centers += ((centers.size + 1L, cid, Double.box(selDist)))
        state.select(col("vec_id"), col("embedding"),
          least(col("__d"), sqDist6(col("embedding"),
            typedLit(top.getSeq[Float](2)))).as("__d"))
      }
    }.state
    val coverage = state.agg(max("__d")).collect().head.getDouble(0)
    state.unpersist(blocking = false)
    cv.unpersist(blocking = false)
    centers.toSeq.map { case (rank, id, sel) =>
      (rank, id, Option(sel).map(_.doubleValue), coverage)
    }.toDF("rank", "center", "sel_dist", "coverage")
  }

  /** DBSCAN (Ester et al. 1996) over the cosine ε-neighbor graph — the
    * DENSITY clustering beside the centroid family ([[kmeans]],
    * [[medoids]], [[kcenter]]): clusters are maximal density-connected
    * regions of ANY shape, points in no dense region are NOISE — the
    * two things centroid methods structurally cannot say (every point
    * is always assigned, every cluster is a Voronoi cell). On curation
    * corpora that reads as "organic topic clumps + an explicit outlier
    * tier", the standard pre-train diversity/contamination readout.
    *
    * The ε-neighborhood is `cosine >= simThreshold` and the neighbor
    * graph comes from [[nearDupPairs]] — the deterministic sign-LSH
    * banding (candidates only from shared (band, bsig) buckets, the
    * 2r-bit key extension on oversized buckets) with the exact cosine
    * verify. LSH recall applies to the GRAPH, not to the algorithm:
    * both engines (and any partitioning) see the identical pinned
    * candidate set, so the clustering is bit-deterministic; at 100 TB
    * the all-pairs ε-graph does not exist and banded candidates are
    * the standard density-clustering scale path (no all-pairs join
    * anywhere). DBSCAN roles on that graph:
    *
    *  - CORE: |neighbors| + 1 >= minPts (the point counts itself, the
    *    textbook convention).
    *  - cluster = connected component of the CORE-CORE subgraph
    *    ([[Dedup.connectedComponents]] min-label fixpoint; an isolated
    *    core keeps its own id) — labels are the component-min vec_id.
    *  - BORDER: non-core with >= 1 core neighbor; joins the MINIMUM
    *    cluster id among its core neighbors (the textbook leaves
    *    border ties to visit order — a min is the deterministic pin).
    *  - NOISE: everything else; cluster is NULL.
    *
    * Output: (vec_id, role core|border|noise, cluster nullable long).
    * Shape at scale: the [[nearDupPairs]] banded join (never all
    * pairs), one degree aggregate, the CC fixpoint over core-core
    * edges only (a small fraction of the corpus), two broadcast-sized
    * role joins. Pair table persisted once, reused by all three roles.
    */
  def dbscan(df: DataFrame, simThreshold: Double, minPts: Int,
      nBits: Int = 64, b: Int = 8, r: Int = 8,
      maxBucket: Int = 4096): DataFrame =
    // AQE off end-to-end: the pair probe and the CC fixpoint dominate
    // (see [[graft.util.Fixpoint]])
    graft.util.Fixpoint.scoped(df.sparkSession) { loop =>
    require(minPts >= 2, s"minPts must be >= 2, got $minPts " +
      "(minPts = 1 makes every point core and no point noise — " +
      "that is exact dedup, not density clustering)")
    val points = loop(df)
    val pairs = graft.util.Caches.persist(
      nearDupPairs(points, simThreshold, nBits, b, r, maxBucket)
        .select(col("vec_a"), col("vec_b")))
    val sym = pairs.union(
      pairs.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
    val pts = points.select(col("vec_id")).distinct()
    val core = sym.groupBy(col("vec_a").as("vec_id"))
      .agg(count(lit(1)).as("__deg"))
      .where(col("__deg") + 1 >= minPts).select("vec_id")
    val coreEdges = sym
      .join(core.select(col("vec_id").as("vec_a")), "vec_a")
      .join(core.select(col("vec_id").as("vec_b")), "vec_b")
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val cc = Dedup.connectedComponents(coreEdges)
    val coreClusters = graft.util.Caches.persist(
      core.join(cc.select(col("doc_id").as("vec_id"), col("component")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster")))
    val borderAssign = sym
      .join(coreClusters.select(col("vec_id").as("vec_b"),
        col("cluster")), "vec_b")
      .groupBy(col("vec_a").as("vec_id")).agg(min("cluster").as("__bc"))
    pts
      .join(coreClusters.select(col("vec_id"), col("cluster").as("__cc")),
        Seq("vec_id"), "left")
      .join(borderAssign, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("__cc").isNotNull, lit("core"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__cc"), col("__bc")).as("cluster"))
  }

  /** Precision / recall / F1 of the [[nearDupPairs]] candidate-dedup
    * pairs against a ground-truth grouping column — the evaluation the
    * dedup family reports nothing about: [[annRecall]] audits the ANN
    * index against brute-force, but nothing audits the DEDUP DECISION
    * against labels. With a labeled sample (or a trusted exact-dup
    * clustering), this reads how many found pairs are true duplicates
    * (precision) and how much of the true pair mass the banding +
    * threshold recovers (recall).
    *
    * Exact arithmetic: tp/fp are counts over the found pairs; the
    * true-pair denominator is Σ_label C(n_l, 2) computed from group
    * SIZES (never materializing ground-truth pairs — at 100 TB the
    * label classes can be huge and the pair space quadratic; the found
    * pairs are already threshold-bounded). Rows with NULL labels drop
    * from both sides. precision/recall/f1 are single 6dp divisions in
    * a pinned order. Output ONE row: (n_pairs, tp, fp, n_true_pairs,
    * precision, recall, f1) — precision NULL when no pairs were found,
    * recall NULL when no true pair exists.
    */
  def pairQuality(df: DataFrame, threshold: Double, labelCol: String,
      nBits: Int = 64, b: Int = 8, r: Int = 8,
      maxBucket: Int = 4096): DataFrame = {
    val labels = graft.util.Caches.persist(
      df.select(col("vec_id"), col(labelCol).as("__l"))
        .where(col("__l").isNotNull))
    val pairs = nearDupPairs(df, threshold, nBits, b, r, maxBucket)
      .join(labels.select(col("vec_id").as("vec_a"),
        col("__l").as("__la")), "vec_a")
      .join(labels.select(col("vec_id").as("vec_b"),
        col("__l").as("__lb")), "vec_b")
    val found = pairs.agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum(when(col("__la") === col("__lb"), 1L).otherwise(0L)),
        lit(0L)).as("tp"))
    val dec = "decimal(38,0)"
    val truth = labels.groupBy("__l").agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum((col("__n").cast(dec) * (col("__n") - 1).cast(dec))
        .cast(dec)), lit(0).cast(dec)).as("__tw"))
      .select((col("__tw") / 2).cast("long").as("n_true_pairs"))
    found.crossJoin(broadcast(truth))
      .select(col("n_pairs"), col("tp"),
        (col("n_pairs") - col("tp")).as("fp"), col("n_true_pairs"))
      .withColumn("precision",
        when(col("n_pairs") > 0,
          round(col("tp").cast("double") / col("n_pairs"), 6) + lit(0d)))
      .withColumn("recall",
        when(col("n_true_pairs") > 0,
          round(col("tp").cast("double") / col("n_true_pairs"), 6)
            + lit(0d)))
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull
            && col("precision") + col("recall") > 0,
          round(lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall")), 6) + lit(0d)))
  }

  /** Simplified (centroid-based) silhouette per cluster — the quality
    * readout for the deterministic k-means the engine clusters with
    * ([[kmeans]] / [[medoids]] / the IVF cell layout): for each point,
    * a = cosine distance to its OWN centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a) / max(a, b) — the Hruschka et
    * al. 2004 simplification of Rousseeuw 1987 that replaces the O(n²)
    * pairwise means with centroid distances (the only form that exists
    * at corpus scale). Because assignment IS nearest-centroid, a ≤ b
    * always and s ∈ [0, 1]: ~1 = tight well-separated cell, ~0 =
    * boundary straddler; a LOW mean flags a cell whose members sit
    * between centroids (split/merge candidate). A point equidistant at
    * 0 from two centroids (duplicate of two seeds) pins s = 0.
    *
    * Output: (cell, n, silhouette) per non-empty cell — silhouette is
    * the cell's mean s via the fixed-point convention (each s scaled by
    * 2^20, rounded to long, summed exactly in any order, divided back
    * in double), so the mean is bit-deterministic under partitioning
    * and replays in DuckDB.
    *
    * Shape at scale: the k-means training passes, then ONE broadcast
    * point×centroid scoring projection with a top-2 window per point
    * (the [[assignCells]] shape, one extra kept row) and one map-side-
    * combined aggregate per cell. No pair enumeration, no collected
    * memberships.
    */
  def silhouette(df: DataFrame, centroidEvery: Int = 100, iters: Int = 2,
      exactReplay: Boolean = false): DataFrame = {
    val cv = graft.util.Caches.persist(withNorm(df))
    val cents = trainCentroids(cv, centroidEvery, iters, exactReplay)
    require(cents.limit(2).count() == 2,
      "silhouette needs >= 2 clusters (lower centroidEvery)")
    val cn = cents.select(col("c_id"), col("c_emb"),
      V.norm(col("c_emb")).as("c_nrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__cc").desc, col("c_id").asc)
    val ranked = cv.join(broadcast(cn))
      .select(col("vec_id"), col("c_id"),
        cosineFromNorms("embedding", "c_emb", "nrm", "c_nrm").as("__cc"))
      .withColumn("__rn", row_number().over(w)).where(col("__rn") <= 2)
    val top = ranked.groupBy("vec_id").agg(
      max(when(col("__rn") === 1, col("c_id"))).as("cell"),
      max(when(col("__rn") === 1, col("__cc"))).as("__c1"),
      max(when(col("__rn") === 2, col("__cc"))).as("__c2"))
    val sil = top.select(col("cell"),
      when(col("__c2") >= 1.0, lit(0.0))
        .otherwise(lit(1.0)
          - (lit(1.0) - col("__c1")) / (lit(1.0) - col("__c2"))).as("__s"))
    sil.groupBy("cell").agg(count(lit(1)).as("n"),
        sum(round(col("__s") * FixedScale).cast("long")).as("__fp"))
      .select(col("cell"), col("n"),
        (col("__fp").cast("double") / col("n") / FixedScale)
          .as("silhouette"))
  }
}
