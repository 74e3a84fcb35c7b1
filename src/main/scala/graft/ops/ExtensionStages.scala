package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, greatest, least}
import graft.pipeline._

/** Config-driven pipeline stages wrapping the LLM-data-pipeline operators
  * (SURVEY §2.3), so a declarative JSON pipeline can run dedup/similarity/
  * text-analysis between Extract and Load exactly like the reference's
  * stages run between its extract and load. Thin: all semantics live in
  * [[Dedup]], [[Similarity]], [[TextAnalysis]] and the other operator
  * modules.
  *
  * Each stage reads its own config, as the reference's plugins do (ref:
  * CassandraExtract.scala:22-63): every `val` reads one key with its
  * default from the [[graft.pipeline.ConfigReader]] the stage is built
  * from, and the parse-time cross-key checks sit beside them. A method
  * stage's arm table is the one list of its methods ([[MethodStage]]).
  */
final class DedupTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "exact")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  val keys = r.stringList("keys")
  val blockCols = r.stringList("blockCols")
  // None -> the library default for the chosen method (0.9 for minhash,
  // 0.7 for ngram_pairs) — a single stage-level default would silently
  // override the per-method documentation.
  val threshold = r.double("threshold")
  // stratified banding spends a longer signature by default (its level-2
  // recall is 1-(1-j)^k — the operator's documented knob)
  val minhashK = r.int("minhashK").getOrElse(
    if (method == "containment_stratified") 128 else 64)
  val bands = r.int("bands").getOrElse(16)
  val rows = r.int("rows").getOrElse(4)
  val shingleN = r.int("shingleN").getOrElse(3)
  val ngramN = r.int("ngramN").getOrElse(5)
  val bucketWidth = r.int("bucketWidth").getOrElse(50)
  val sampleMod = r.int("sampleMod").getOrElse(4)
  val maxHamming = r.int("maxHamming").getOrElse(3)
  val maxBucket = r.int("maxBucket").getOrElse(4096)
  val maxBlock = r.int("maxBlock").getOrElse(1024)
  val lshBands = r.int("lshBands").getOrElse(8)
  val maxIter = r.int("maxIter").getOrElse(25)
  val window = r.int("window").getOrElse(8)
  val maxDist = r.int("maxDist").getOrElse(5)
  val byDigest = r.boolean("byDigest", default = false)
  val checkpointDir = r.string("checkpointDir")
  val seenView = requiredBy("seenView", "exact_incremental",
    "minhash_incremental")
  // weighted_pairs: term-frequency cap of the multiset expansion
  val maxTf = r.int("maxTf").getOrElse(16)
  // keep_best / cluster_stats: the (doc_id, component) view a prior
  // connectedComponents pass registered
  val componentsView = requiredBy("componentsView", "keep_best",
    "cluster_stats")
  // keep_best: the per-doc quality score the cluster winner maximizes
  val scoreCol = r.string("scoreCol").getOrElse("score")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "exact" -> (in =>
      Dedup.exact(in, if (keys.nonEmpty) keys else Seq(textCol), Seq(idCol),
        byDigest)),
    // ingest-batch dedup vs a persisted history view (digested here)
    "exact_incremental" -> { in =>
      val ks = if (keys.nonEmpty) keys else Seq(textCol)
      Dedup.exactIncremental(in,
        Dedup.digests(Views.resolve(seenView), ks), ks, Seq(idCol))
    },
    "minhash" -> (in => Dedup.minhashApply(in, idCol, textCol,
      minhashK, bands, rows, shingleN, threshold.getOrElse(0.9))),
    "minhash_pairs" -> (in => Dedup.minhashPairs(in, idCol, textCol,
      minhashK, bands, rows, shingleN, threshold.getOrElse(0.9))),
    // one-permutation signature (k-times-cheaper narrow pass)
    "oph_pairs" -> (in => Dedup.minhashPairsOPH(in, idCol, textCol,
      minhashK, bands, rows, shingleN, threshold.getOrElse(0.9))),
    // the production dedup-cluster path: near-dup pairs grouped into
    // components, one canonical (min) id per cluster
    "minhash_cc" -> (in => Dedup.connectedComponents(
      Dedup.minhashPairs(in, idCol, textCol,
        minhashK, bands, rows, shingleN, threshold.getOrElse(0.9)),
      maxIter, checkpointDir)),
    // full production dedup: cluster, then keep one doc per cluster
    "minhash_cc_apply" -> (in =>
      Dedup.ccApply(in,
        Dedup.connectedComponents(
          Dedup.minhashPairs(in, idCol, textCol,
            minhashK, bands, rows, shingleN, threshold.getOrElse(0.9)),
          maxIter, checkpointDir),
        idCol)),
    "simhash" -> (in => Dedup.simhashFingerprints(in, idCol, textCol)),
    "simhash_pairs" -> (in =>
      Dedup.simhashPairs(in, idCol, textCol, maxHamming, maxBucket)),
    "ngram_pairs" -> (in =>
      Dedup.ngramJaccardPairs(in, idCol, textCol, blockCols, ngramN,
        bucketWidth, threshold.getOrElse(0.7), sampleMod, maxBlock, lshBands)),
    // exact-recall prefix-filtered Jaccard (the LSH-free alternative)
    "prefix_pairs" -> (in =>
      Dedup.prefixJaccardPairs(in, idCol, textCol, ngramN, sampleMod,
        threshold.getOrElse(0.5))),
    "edit_pairs" -> (in =>
      Dedup.editDistancePairs(in, idCol, textCol, blockCols, maxDist,
        bucketWidth, maxBlock)),
    // Jaro-Winkler record-linkage tier (threshold = min similarity)
    "jw_pairs" -> (in =>
      Dedup.jaroWinklerPairs(in, idCol, textCol, blockCols,
        threshold.getOrElse(0.9), bucketWidth, maxBlock)),
    "passages" -> (in => Dedup.passages(in, idCol, textCol, window)),
    // asymmetric containment over the same MinHash-LSH candidates
    "containment_pairs" -> (in => Dedup.containmentPairs(in, idCol, textCol,
      minhashK, bands, rows, shingleN, threshold.getOrElse(0.7))),
    // LSH-Ensemble stratified banding: the size-skew recall path
    // (minhashK defaults to 128 for this method)
    "containment_stratified" -> (in =>
      Dedup.containmentPairsStratified(in, idCol, textCol, minhashK,
        shingleN, threshold.getOrElse(0.7), maxBucket)),
    // tf-weighted multiset Jaccard (bag-of-words near-dup); the 0.5
    // fallback mirrors Dedup.weightedJaccardPairs' own default so
    // config users and API users get the same cut-off
    "weighted_pairs" -> (in =>
      Dedup.weightedJaccardPairs(in, idCol, textCol, minhashK, bands,
        rows, threshold.getOrElse(0.5), maxTf)),
    // text k-NN over the same candidates (window = k neighbors)
    "knn" -> (in => Dedup.knnJaccard(in, idCol, textCol, window,
      minhashK, bands, rows, shingleN)),
    // score-aware cluster collapse: keep the best-scoring doc per
    // component (componentsView = a connectedComponents output view)
    "keep_best" -> (in =>
      Dedup.keepBest(in, Views.resolve(componentsView), idCol, scoreCol)),
    // dedup-budget readout: cluster-size histogram + singleton mass
    "cluster_stats" -> (in =>
      Dedup.clusterStats(in, Views.resolve(componentsView))),
    // ingest-batch near-dup candidates vs a persisted seen corpus
    "minhash_incremental" -> (in =>
      Dedup.minhashIncrementalPairs(in, Views.resolve(seenView), idCol,
        textCol, minhashK, bands, rows, shingleN,
        threshold.getOrElse(0.9))))
}

final class SimilarityTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "topk")
  val queryView = r.string("queryView")
  val k = r.int("k").getOrElse(5)
  val threshold = r.double("threshold").getOrElse(0.95)
  val centroidEvery = r.int("centroidEvery").getOrElse(100)
  val maxBucket = r.int("maxBucket").getOrElse(4096)
  val kmeansIters = r.int("kmeansIters").getOrElse(2)
  // None -> the per-method library default (ann 64/16/4, neardup 64/8/8)
  val nBits = r.int("nBits")
  val bands = r.int("bands")
  val rows = r.int("rows")
  // ivf only: bit-deterministic sequential-sum centroids (oracle replay)
  val exactReplay = r.boolean("exactReplay", default = false)
  // ivf only: number of nearest cells each query scans (recall knob)
  val probes = r.int("probes").getOrElse(1)
  // quantize only: code levels (256 = int8)
  val levels = r.int("levels").getOrElse(256)
  // project only: input/output dimensionality of the sign projection
  val inDim = r.int("inDim").getOrElse(64)
  val outDim = r.int("outDim").getOrElse(16)
  // bitext family: the margin-criterion quality bar
  val minMargin = r.double("minMargin").getOrElse(0.01)
  // pq_topk: subspace count (subDim = inDim / subspaces)
  val subspaces = r.int("subspaces").getOrElse(8)
  // ivf_write / ivf_query: the persisted cell-partitioned index dir
  val indexDir = requiredBy("indexDir", "ivf_write", "ivf_query")
  // pair_quality: the ground-truth grouping column
  val labelCol = r.string("labelCol").getOrElse("label")
  // ivf_write: writer options (the destructive confirm.truncate latch)
  val options = r.stringMap("params")
  // pq_recall / opq_recall / ivf_pq_topk: PQ codebook training rounds
  // (the operators' own default, separate from the cell kmeansIters)
  val pqIters = r.int("pqIters").getOrElse(1)

  override protected def describe = Seq("method" -> method, "inputView" -> inputView)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    // the query side: queryView, or the corpus itself
    def queries(corpus: DataFrame) = queryView.map(Views.resolve).getOrElse(corpus)
    // PQ subspace width (inDim must be divisible by subspaces)
    def subDim: Int = {
      require(inDim % subspaces == 0,
        s"inDim $inDim not divisible by subspaces $subspaces")
      inDim / subspaces
    }
    Seq(
      "topk" -> (in => Similarity.bruteTopK(in, queries(in), k)),
      // late-interaction MaxSim: inputView = corpus token vectors
      // (doc_id, embedding), queryView = query tokens (q_id, q_tok,
      // embedding)
      "maxsim" -> (in => Similarity.maxSimTopK(in, queries(in), k)),
      "ann" -> (in => Similarity.annTopK(in, queries(in), k,
        nBits.getOrElse(64), bands.getOrElse(16), rows.getOrElse(4))),
      "ivf" -> (in =>
        Similarity.ivfTopK(in, queries(in), k, centroidEvery, kmeansIters,
          exactReplay, probes)),
      // first-class k-means: (vec_id, cell, cell_size)
      "kmeans" -> (in =>
        Similarity.kmeans(in, centroidEvery, kmeansIters, exactReplay)),
      // per-cell best real representative (coreset selection)
      "medoids" -> (in =>
        Similarity.medoids(in, centroidEvery, kmeansIters, exactReplay)),
      // greedy farthest-point k-center cover (global diversity coreset)
      "kcenter" -> (in => Similarity.kcenter(in, k)),
      "neardup_pairs" -> (in =>
        Similarity.nearDupPairs(in, threshold, nBits.getOrElse(64),
          bands.getOrElse(8), rows.getOrElse(8), maxBucket)),
      // DBSCAN density clustering; threshold = cosine ε, k = minPts
      "dbscan" -> (in =>
        Similarity.dbscan(in, threshold, k, nBits.getOrElse(64),
          bands.getOrElse(8), rows.getOrElse(8), maxBucket)),
      // per-cell simplified silhouette over the shared k-means cells
      "silhouette" -> (in =>
        Similarity.silhouette(in, centroidEvery, kmeansIters, exactReplay)),
      // dedup-decision audit vs ground-truth labels
      "pair_quality" -> (in =>
        Similarity.pairQuality(in, threshold, labelCol,
          nBits.getOrElse(64), bands.getOrElse(8), rows.getOrElse(8),
          maxBucket)),
      "standardize" -> (in => Similarity.standardize(in)),
      "quantize" -> (in => Similarity.quantize(in, levels)),
      "project" -> (in => Similarity.projectSigned(in, inDim, outDim)),
      "semantic_dedup" -> (in =>
        Similarity.semanticDedup(in, threshold, centroidEvery, kmeansIters)),
      "hard_negatives" -> (in => Similarity.hardNegatives(in, queries(in), k)),
      "ann_recall" -> (in => Similarity.annRecall(in, queries(in), k,
        nBits.getOrElse(64), bands.getOrElse(16), rows.getOrElse(4))),
      // exact fixed-point covariance (inDim = embedding dimensionality);
      // eigen + projection are programmatic (dim^2-bounded driver work)
      "pca_cov" -> (in => Pca.covariance(in, dim = inDim)),
      // one-row vector-table health screen (inDim = expected dimension)
      "health" -> (in => Similarity.embeddingHealth(in, dim = inDim)),
      // margin-criterion bitext mining: queryView = the mined side,
      // inputView = the candidate-translation side. Plain form is the
      // small-query-side BNL; _scalable takes two large sides via
      // sign-LSH candidates
      "bitext" -> (in => Similarity.bitextMine(queries(in), in, minMargin)),
      "bitext_scalable" -> (in =>
        Similarity.bitextMineScalable(queries(in), in, minMargin,
          nBits.getOrElse(64), bands.getOrElse(16), rows.getOrElse(4),
          maxBucket)),
      // product quantization: train + encode + ADC search in one stage
      "pq_topk" -> { in =>
        val cbooks = Pq.train(in, subspaces, subDim, centroidEvery,
          kmeansIters)
        Pq.adcTopK(Pq.encode(in, cbooks, subspaces, subDim), cbooks,
          queries(in), k, subspaces, subDim)
      },
      // binary sign-code search: 8-byte packed codes, xor+popcount rank
      "hamming_topk" -> (in =>
        Similarity.hammingTopK(in, queries(in), k, nBits.getOrElse(64))),
      // corpus-wide banded Hamming pairs; k doubles as the radius
      "hamming_pairs" -> (in =>
        Similarity.hammingNeighbors(in, maxHamming = k, maxBucket)),
      // PQ recall gauge vs exact full-width truth (ships beside pq_topk)
      "pq_recall" -> (in =>
        Pq.adcRecall(in, queries(in), k, subspaces, subDim,
          centroidEvery, pqIters)),
      // OPQ (rotated-PQ) recall gauge — rotation trained in-stage
      "opq_recall" -> (in =>
        Pq.adcRecallOpq(in, queries(in), k, subspaces, subDim,
          centroidEvery, pqIters)),
      // IVF cells x PQ codes: prune WHERE to look, compress WHAT compares
      "ivf_pq_topk" -> (in =>
        Pq.ivfAdcTopK(in, queries(in), k, centroidEvery, kmeansIters,
          probes, subspaces, subDim, pqIters = pqIters)),
      // persisted cell-partitioned IVF index lifecycle: write ...
      "ivf_write" -> (in =>
        Similarity.ivfWrite(in, indexDir, centroidEvery, kmeansIters,
          exactReplay, options)),
      // ... and query (probes = cells scanned per query)
      "ivf_query" -> (in =>
        Similarity.ivfQueryIndex(ctx.spark, indexDir, queries(in), k, probes)),
      // driver-side power-iteration eigen over a pca_cov output view
      // (inDim = dimensionality, k = components)
      "pca_components" -> (in =>
        Pca.principalComponents(in, dim = inDim, k = k)))
  }
}

final class AsofJoinTransformStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputView = r.requiredString("inputView") // left side
  val rightView = r.requiredString("rightView")
  val outputView = r.requiredString("outputView")
  val keys = r.stringList("keys")
  if (keys.isEmpty) r.error("keys", "at least one join key is required")
  val leftTime = r.string("leftTime").getOrElse("ts")
  val rightTime = r.string("rightTime").getOrElse("ts")
  val forward = r.boolean("forward", default = false)
  // nearest-direction pick (tolerance in µs for timestamps, native
  // units for numeric time columns); overrides `forward`
  val nearest = r.boolean("nearest", default = false)
  val toleranceMicros = r.long("toleranceMicros").getOrElse(Long.MaxValue)

  protected def describe =
    Seq("inputView" -> inputView, "rightView" -> rightView, "outputView" -> outputView)

  protected def output()(implicit ctx: PipelineContext): DataFrame =
    if (nearest)
      Joins.asofNearest(Views.resolve(inputView), Views.resolve(rightView),
        keys, leftTime, rightTime, toleranceMicros)
    else Joins.asof(Views.resolve(inputView), Views.resolve(rightView),
      keys, leftTime, rightTime, forward)
}

final class SaltedJoinTransformStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputView = r.requiredString("inputView") // left (skewed) side
  val rightView = r.requiredString("rightView")
  val outputView = r.requiredString("outputView")
  val keys = r.stringList("keys")
  if (keys.isEmpty) r.error("keys", "at least one join key is required")
  val saltFactor = r.int("saltFactor").getOrElse(8)

  protected def describe =
    Seq("inputView" -> inputView, "rightView" -> rightView, "outputView" -> outputView)

  protected def output()(implicit ctx: PipelineContext): DataFrame =
    Joins.salted(Views.resolve(inputView), Views.resolve(rightView),
      keys, saltFactor)
}

final class RangeJoinTransformStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputView = r.requiredString("inputView") // left side
  val rightView = r.requiredString("rightView")
  val outputView = r.requiredString("outputView")
  val leftTime = r.requiredString("leftTime")
  val startCol = r.requiredString("startCol")
  val endCol = r.requiredString("endCol")
  val keys = r.stringList("keys")
  val bucketSeconds = r.long("bucketSeconds").getOrElse(3600L)
  // set -> interval-OVERLAP join: left [leftTime, leftEnd] vs right
  // [startCol, endCol], instead of point-in-interval containment
  val leftEnd = r.string("leftEnd")

  protected def describe =
    Seq("inputView" -> inputView, "rightView" -> rightView, "outputView" -> outputView)

  protected def output()(implicit ctx: PipelineContext): DataFrame =
    leftEnd match {
      case Some(le) => Joins.intervalOverlap(Views.resolve(inputView),
        leftTime, le, Views.resolve(rightView), startCol, endCol, keys,
        bucketSeconds)
      case None => Joins.range(Views.resolve(inputView), leftTime,
        Views.resolve(rightView), startCol, endCol, keys, bucketSeconds)
    }
}

final class ContaminationTransformStage(r: ConfigReader) extends TransformStage(r) {
  // the eval suite (check) / reference corpus (novelty)
  val evalView = r.requiredString("evalView")
  val method: String = select("method", "check")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  val shingleN = r.int("shingleN").getOrElse(3)
  val broadcastEval = r.boolean("broadcastEval", default = true)
  // novelty_bloom: bitmap size and probe count
  val mBits = r.int("mBits").getOrElse(1 << 20)
  val k = r.int("k").getOrElse(5)

  override protected def describe = Seq("method" -> method,
    "inputView" -> inputView, "evalView" -> evalView, "outputView" -> outputView)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    def ref = Views.resolve(evalView)
    Seq(
      "check" -> (in =>
        Contamination.check(in, ref, idCol, textCol, shingleN, broadcastEval)),
      "novelty" -> (in =>
        Contamination.novelty(in, ref, idCol, textCol, shingleN)),
      "novelty_bloom" -> (in =>
        Contamination.noveltyBloom(in, ref, idCol, textCol, shingleN,
          mBits, k)),
      // the >2^31-bit scale path: the filter lives as a LONG-array
      // column, never a driver bitset
      "novelty_bloom_big" -> (in =>
        Contamination.noveltyBloomBig(in, ref, idCol, textCol, shingleN,
          mBits.toLong, k)))
  }
}

final class ProfileTransformStage(r: ConfigReader) extends TransformStage(r) {
  val columns = r.stringList("columns") // empty -> all columns
  val exact = r.boolean("exact", default = true)
  val method: String = select("method", "table")
  val valueCol = r.string("valueCol").getOrElse("value")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val binWidth = r.double("binWidth").getOrElse(1.0)
  val nBins = r.int("nBins").getOrElse(4)
  val pLo = r.double("pLo").getOrElse(0.05)
  val pHi = r.double("pHi").getOrElse(0.95)
  val byCols = r.stringList("byCols")
  // a group-keyed pass without byCols would only fail at runtime
  // (require in the operator) — fail at parse instead
  if ((method.startsWith("outliers") || method == "correlation"
      || method == "linear_fit" || method == "gini"
      || method == "percentile_rank" || method == "trimmed_mean")
      && byCols.isEmpty)
    r.error("byCols", s"missing or empty; $method requires group columns")
  val sigma = r.double("sigma").getOrElse(3.0)
  val madK = r.double("madK").getOrElse(3.5)
  val xCol = r.string("xCol").getOrElse("x")
  val yCol = r.string("yCol").getOrElse("y")
  // corpus_report column names
  val textCol = r.string("textCol").getOrElse("text")
  val langCol = r.string("langCol").getOrElse("lang")
  val sourceCol = r.string("sourceCol").getOrElse("source")

  override protected def describe =
    Seq("inputView" -> inputView, "outputView" -> outputView, "method" -> method)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "table" -> (in =>
      Profile.table(in, if (columns.nonEmpty) columns else in.columns.toSeq, exact)),
    "histogram" -> (in => Profile.histogram(in, valueCol, binWidth)),
    "bucketize" -> (in => Profile.bucketizeQuantile(in, valueCol, nBins)),
    "winsorize" -> (in => Profile.winsorize(in, valueCol, pLo, pHi)),
    "outliers" -> (in => Profile.outliers(in, valueCol, byCols, sigma)),
    "outliers_mad" -> (in => Profile.outliersMad(in, valueCol, byCols, madK)),
    "correlation" -> (in => Profile.correlation(in, xCol, yCol, byCols)),
    "linear_fit" -> (in => Profile.linearFit(in, xCol, yCol, byCols)),
    "percentile_rank" -> (in =>
      Profile.percentileRank(in, valueCol, idCol, byCols)),
    "benford" -> (in => Profile.benford(in, valueCol)),
    "trimmed_mean" -> (in =>
      Profile.trimmedMean(in, valueCol, byCols, pLo, pHi)),
    "corpus_report" -> (in =>
      Profile.corpusReport(in, idCol, textCol, langCol, sourceCol)),
    // exact pairwise Pearson matrix over the listed numeric columns
    "correlation_matrix" -> (in => Profile.correlationMatrix(in, columns)),
    // per-group Gini concentration of a non-negative value column
    "gini" -> (in => Profile.gini(in, valueCol, byCols)))
}

final class SampleTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "deterministic")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val rate = r.double("rate").getOrElse(1.0)
  val salt = r.string("salt").getOrElse("")
  val stratumCol = r.string("stratumCol").getOrElse("lang")
  val rates = r.doubleMap("rates", "rate", fallback = 1.0)
  val defaultRate = r.double("defaultRate").getOrElse(1.0)
  val tokenCol = r.string("tokenCol").getOrElse("n_tokens")
  val budget = r.long("budget").getOrElse(1000000L)
  val k = r.int("k").getOrElse(100)
  val weightCol = r.string("weightCol").getOrElse("n_tokens")
  val nBuckets = r.int("nBuckets").getOrElse(1024)
  // importance (DSIR) only: token source + the target-domain predicate
  // (rows whose stratumCol equals targetValue form the target sample)
  val textCol = r.string("textCol").getOrElse("text")
  val targetValue = r.string("targetValue").getOrElse("en")
  // pareto only: the two maximized criteria
  val xCol = r.string("xCol").getOrElse("x")
  val yCol = r.string("yCol").getOrElse("y")
  // leakage_safe_split: the (doc_id, component) near-dup cluster view
  val componentsView = requiredBy("componentsView", "leakage_safe_split")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "deterministic" -> (in => Sampling.deterministic(in, idCol, rate, salt)),
    "stratified" -> (in =>
      Sampling.stratified(in, stratumCol, idCol, rates, defaultRate, salt)),
    "per_stratum_head" -> (in =>
      Sampling.perStratumHead(in, stratumCol, idCol, k, salt)),
    "shard_by_budget" -> (in =>
      Sampling.shardByBudget(in, idCol, tokenCol, budget)),
    // rates doubles as the upsample weight map (same stratum semantics)
    "upsample" -> (in =>
      Sampling.upsample(in, stratumCol, idCol, rates, defaultRate, salt)),
    "weighted_topk" -> (in =>
      Sampling.weightedTopK(in, idCol, weightCol, k, salt)),
    "negative" -> (in =>
      Sampling.negativeSample(in, idCol, k, nBuckets, salt)),
    "shuffle" -> (in => Sampling.deterministicShuffle(in, idCol, salt)),
    "pack" -> (in =>
      Sampling.packSequences(in, idCol, tokenCol, budget, nBuckets, salt)),
    // rates doubles as the target-proportion map
    "rebalance" -> (in =>
      Sampling.rebalance(in, stratumCol, idCol, tokenCol, rates, salt)),
    // rate doubles as the retention fraction p
    "top_fraction" -> (in => Sampling.topFraction(in, weightCol, idCol, rate)),
    "token_cap" -> (in =>
      Sampling.perStratumTokenCap(in, stratumCol, idCol, tokenCol,
        budget, salt)),
    // rate doubles as the temperature alpha
    "temperature" -> (in =>
      Sampling.temperatureRebalance(in, stratumCol, idCol, tokenCol,
        rate, salt)),
    // k is the slot count; weights from weightCol
    "systematic" -> (in =>
      Sampling.systematicWeighted(in, idCol, weightCol, k.toLong, salt)),
    // weightCol doubles as the curriculum order column
    "ordinal" -> (in => Sampling.globalOrdinal(in, idCol, weightCol)),
    // rate = the per-stratum retention fraction; weightCol = score
    "top_stratum" -> (in =>
      Sampling.topFractionPerStratum(in, stratumCol, weightCol, idCol, rate)),
    // DSIR importance scores: target = rows with stratumCol == targetValue
    "importance" -> (in =>
      Sampling.importanceWeights(in, idCol, textCol,
        col(stratumCol) === targetValue, nBuckets)),
    // k doubles as the shard count
    "rendezvous" -> (in => Sampling.rendezvousShard(in, idCol, k)),
    // undominated rows on two maximized criteria
    "pareto" -> (in => Sampling.paretoFront(in, xCol, yCol)),
    // deterministic train/val/test assignment; `rates` = the split
    // fractions, applied in NAME order (config maps carry no order,
    // and the cumulative thresholds must be reproducible)
    "split" -> (in =>
      Sampling.splitAssign(in, idCol, rates.toSeq.sortBy(_._1), salt)),
    // split whole near-dup clusters as one unit (componentsView = a
    // connectedComponents output view)
    "leakage_safe_split" -> (in =>
      Sampling.leakageSafeSplit(in, idCol, Views.resolve(componentsView),
        rates.toSeq.sortBy(_._1), salt)),
    // per-shard manifest rollup of shard_by_budget
    "shard_manifest" -> (in =>
      Sampling.shardManifest(in, idCol, tokenCol, budget)))
}

final class TextAnalysisTransformStage(r: ConfigReader) extends TransformStage(r) {
  val analysis: String = select("analysis", "quality")
  def method: String = analysis
  // blocklist: the whole-word term list
  val terms = r.stringList("terms")
  // bpe_apply: "left right" merge pairs in application order
  val merges = r.stringList("merges")
  // quality_score: (metric, weight) pairs, sorted by metric name: config
  // maps carry no order, and the linear accumulation order must be
  // reproducible
  val scoreWeights = r.doubleMap("scoreWeights", "weight", fallback = 0.0)
    .toSeq.sortBy(_._1)
  val bias = r.double("bias").getOrElse(0.0)
  val scoreThreshold = r.double("scoreThreshold").getOrElse(0.5)
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  val langCol = r.string("langCol").getOrElse("lang")
  val minChars = r.long("minChars").getOrElse(50L)
  val maxChars = r.long("maxChars").getOrElse(100000L)
  val minWords = r.long("minWords").getOrElse(10L)
  val minTtr = r.double("minTtr").getOrElse(0.1)
  val minStopwordRatio = r.double("minStopwordRatio").getOrElse(0.0)
  val maxPunctRatio = r.double("maxPunctRatio").getOrElse(0.3)
  val chunkSize = r.int("chunkSize").getOrElse(64)
  val overlap = r.int("overlap").getOrElse(16)
  val ngramN = r.int("ngramN").getOrElse(2)
  val topK = r.int("topK").getOrElse(5)
  // zipf: vocabulary-head size for the ln-ln fit. Its OWN knob (not the
  // generic topK, whose default 5 would fit a regression on five ranks)
  // so an omitted config matches the zipfFit API default.
  val zipfTopN = r.int("zipfTopN").getOrElse(1000)
  // lm_score: model grouping (e.g. per language) + add-k smoothing
  val groupCols = r.stringList("groupCols")
  val alpha = r.double("alpha").getOrElse(0.1)
  // keyness: total Dirichlet prior mass (group column = langCol)
  val alpha0 = r.double("alpha0").getOrElse(100.0)
  // boilerplate: chunk window (words) and cross-doc frequency floor
  val window = r.int("window").getOrElse(8)
  val minDocs = r.int("minDocs").getOrElse(2)
  // vectorize: hashed bag-of-words dimensionality
  val dim = r.int("dim").getOrElse(64)
  // bpe_learn: greedy merge rounds
  val rounds = r.int("rounds").getOrElse(4)
  // kn_score: the fixed Kneser-Ney discount D
  val discount = r.double("discount").getOrElse(0.75)
  // ngram_counts: corpus count floor
  val minCount = r.long("minCount").getOrElse(1L)
  // fix_encoding: stacked double-decode layers to unwind
  val depth = r.int("depth").getOrElse(1)
  // unigram family: piece length cap, learn knobs, apply vocab
  // (piece -> logp; a set, so the config map's lack of order is fine)
  val maxPieceLen = r.int("maxPieceLen").getOrElse(4)
  val vocabSize = r.int("vocabSize").getOrElse(64)
  val seedSize = r.int("seedSize").getOrElse(2048)
  val iters = r.int("iters").getOrElse(2)
  val vocab = r.doubleMap("vocab", "logp", fallback = 0.0).toSeq.sortBy(_._1)
  // wordpiece apply: the fixed piece set ("##"-prefixed continuations)
  val pieces = r.stringList("pieces")

  override protected def describe = Seq("analysis" -> analysis, "inputView" -> inputView)

  private def parsedMerges: Seq[(String, String)] = merges.map { m =>
    m.split(" ", -1) match {
      case Array(a, b) => (a, b)
      case _ => throw new IllegalArgumentException(
        s"merge must be 'left right', got '$m'")
    }
  }

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "quality" -> (in => TextAnalysis.quality(in, idCol, textCol)),
    "quality_filter" -> (in => TextAnalysis.qualityFilter(in, textCol,
      minChars, maxChars, minWords, minTtr, minStopwordRatio, maxPunctRatio)),
    "normalize" -> (in => TextAnalysis.normalize(in, textCol)),
    "chunk" -> (in => TextAnalysis.chunk(in, idCol, textCol, chunkSize, overlap)),
    "tokens" -> (in => TextAnalysis.tokenCounts(in, idCol, textCol)),
    "langid" -> (in => TextAnalysis.langId(in, idCol, textCol, langCol)),
    "fingerprint" -> (in => TextAnalysis.fingerprints(in, idCol, textCol)),
    "langdist" -> (in => TextAnalysis.langDist(in, langCol, textCol)),
    "repetition" -> (in => TextAnalysis.repetition(in, idCol, textCol, ngramN)),
    "tfidf" -> (in => TextAnalysis.tfidfTopK(in, idCol, textCol, topK)),
    "quality_score" -> (in => TextAnalysis.qualityScore(in, idCol, textCol,
      scoreWeights, bias, scoreThreshold)),
    // corpus-trained bigram-LM cross-entropy (CCNet-style perplexity)
    "lm_score" -> (in => LanguageModel.bigramCrossEntropy(in, idCol,
      textCol, groupCols, alpha)),
    // corpus-repeated n-gram span fraction per doc (ngramN = span)
    "dup_spans" -> (in => TextAnalysis.dupSpans(in, idCol, textCol, ngramN)),
    "dup_runs" -> (in => TextAnalysis.dupRuns(in, idCol, textCol, ngramN)),
    // group-distinctive terms (langCol = the group column)
    "keyness" -> (in => TextAnalysis.keyness(in, langCol, textCol,
      alpha0, topK)),
    // Zipf vocabulary head with cumulative token coverage
    "head_coverage" -> (in => TextAnalysis.headCoverage(in, textCol, topK)),
    // per-doc code-point entropy (micro-nat contract, codegen'd)
    "entropy" -> (in => TextAnalysis.charEntropy(in, idCol, textCol)),
    // BPE-training pair statistics (ngramN reused as the minCount prune)
    "bpe_pairs" -> (in => TextAnalysis.bpePairCounts(in, textCol, ngramN.toLong)),
    // adjacent-word PMI collocations (ngramN reused as the pair floor)
    "pmi" -> (in => TextAnalysis.pmiCollocations(in, textCol, ngramN.toLong)),
    // whole-word safety screen (per hit doc: counts + matched terms)
    "blocklist" -> (in => TextAnalysis.blocklist(in, idCol, textCol, terms)),
    // fixed-merge-table BPE encoding ("left right" pairs, in order)
    "bpe_apply" -> (in =>
      TextAnalysis.bpeApplyMerges(in, idCol, textCol, parsedMerges)),
    // tokenizer fertility per group (langCol = the group column)
    "bpe_fertility" -> (in =>
      TextAnalysis.bpeFertility(in, textCol, langCol, parsedMerges)),
    // RefinedWeb-style line dedup: drop cross-doc boilerplate chunks
    "boilerplate" -> (in =>
      TextAnalysis.boilerplateChunks(in, idCol, textCol, window, minDocs)),
    // per-doc type-token / hapax ratios (vocabulary richness)
    "ttr" -> (in => TextAnalysis.lexicalDiversity(in, idCol, textCol)),
    // Chao1 corpus vocabulary-richness estimate (one row)
    "chao1" -> (in => TextAnalysis.chao1(in, textCol)),
    // per-doc Flesch reading-ease readability signals
    "readability" -> (in => TextAnalysis.readability(in, idCol, textCol)),
    // corpus Zipf ln-ln slope over the zipfTopN vocabulary head
    "zipf" -> (in => TextAnalysis.zipfFit(in, textCol, zipfTopN)),
    // per-doc character-class mix (encoding-health probe)
    "charclass" -> (in => TextAnalysis.charClassMix(in, idCol, textCol)),
    // pairwise longest-shared-substring (ngramN = the word threshold)
    "dup_substring" -> (in =>
      TextAnalysis.dupSubstring(in, idCol, textCol, ngramN)),
    // excise spans shared with a lower-id doc (first occurrence wins)
    "dup_substring_apply" -> (in =>
      TextAnalysis.dupSubstringApply(in, idCol, textCol, ngramN)),
    // excise later within-doc repeats (periodic text -> one period)
    "self_repetition_apply" -> (in =>
      TextAnalysis.selfRepetitionApply(in, idCol, textCol, ngramN)),
    // per-doc Unicode-script shares (refines charclass's non-ASCII
    // bucket into latin/cjk/cyrillic/… fractions)
    "script_mix" -> (in => TextAnalysis.scriptMix(in, idCol, textCol)),
    // corpus distinct-n diversity per group (langCol = the group
    // column, the keyness/bpe_fertility convention)
    "distinct_n" -> (in => TextAnalysis.distinctN(in, textCol, langCol)),
    // hashed bag-of-words document vectors (dim buckets)
    "vectorize" -> (in =>
      TextAnalysis.hashingVectorize(in, idCol, textCol, dim)),
    // greedy BPE merge-table learning (rounds merges)
    "bpe_learn" -> (in => TextAnalysis.bpeLearnMerges(in, textCol, rounds)),
    // corpus top-k vocabulary, flat and per-group (langCol = group)
    "heavy_hitters" -> (in => TextAnalysis.heavyHitters(in, textCol, topK)),
    "heavy_hitters_grouped" -> (in =>
      TextAnalysis.heavyHittersGrouped(in, langCol, textCol, topK)),
    // chunk-level language agreement (code-switch probe)
    "lang_purity" -> (in =>
      TextAnalysis.langPurity(in, idCol, textCol, chunkSize)),
    // corpus n-gram count table above a floor
    "ngram_counts" -> (in =>
      TextAnalysis.ngramCounts(in, textCol, ngramN, minCount)),
    // interpolated Kneser-Ney trigram cross-entropy (the n>=3 form)
    "kn_score" -> (in => LanguageModel.knTrigramCrossEntropy(in, idCol,
      textCol, groupCols, discount)),
    // unigram-LM tokenizer: Viterbi-EM learn, fixed-vocab apply
    "unigram_learn" -> (in =>
      Unigram.learn(in, textCol, vocabSize, maxPieceLen, iters, seedSize)),
    "unigram_encode" -> (in =>
      Unigram.encode(in, idCol, textCol, vocab, maxPieceLen)),
    "unigram_fertility" -> (in =>
      Unigram.fertility(in, textCol, langCol, vocab, maxPieceLen)),
    // WordPiece tokenizer: likelihood-scored learn, greedy apply
    "wordpiece_learn" -> (in => Wordpiece.learn(in, textCol, rounds)),
    "wordpiece_encode" -> (in =>
      Wordpiece.encode(in, idCol, textCol, pieces, maxPieceLen)),
    "wordpiece_fertility" -> (in =>
      Wordpiece.fertility(in, textCol, langCol, pieces, maxPieceLen)),
    // byte-level BPE: hex byte symbols, UNK-free by construction
    "bytebpe_learn" -> (in => ByteBpe.learn(in, textCol, rounds)),
    "bytebpe_encode" -> (in =>
      ByteBpe.encode(in, idCol, textCol, parsedMerges)),
    "bytebpe_fertility" -> (in =>
      ByteBpe.fertility(in, textCol, langCol, parsedMerges)),
    // HTML -> clean text (jusText-shape pinned block rules)
    "html_extract" -> (in => Html.extract(in, idCol, textCol)),
    // UTF-8-read-as-cp1252 mojibake repair (pinned artifact table);
    // depth > 1 unwinds stacked double-decodes one layer per pass
    "fix_encoding" -> (in => Mojibake.repair(in, idCol, textCol, depth)),
    // Unicode NFC canonical composition (pre-dedup/tokenizer hygiene)
    "nfc" -> (in => Mojibake.nfcNormalize(in, idCol, textCol)),
    // Heaps' law growth curve; chunkSize doubles as the checkpoint
    // count (its 64 default is a reasonable curve resolution)
    "heaps" -> (in => TextAnalysis.heapsLaw(in, idCol, textCol, chunkSize)))
}

/** Training-example assembly stage over [[Assemble.threads]]: one
  * transcript row per `groupCol` entity, ordered by `orderCols`, capped
  * at `maxTurns` payloads.
  */
final class AssembleTransformStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputView = r.requiredString("inputView")
  val outputView = r.requiredString("outputView")
  val groupCol = r.requiredString("groupCol")
  // ordering is the stage's determinism contract: an empty list would
  // surface at runtime as an opaque AnalysisException from row_number
  // over an unordered window — fail at config time instead
  val orderCols = r.stringList("orderCols")
  if (orderCols.isEmpty)
    r.error("orderCols", "missing or empty; at least one ordering column is required")
  val payloadCol = r.requiredString("payloadCol")
  val maxTurns = r.int("maxTurns").getOrElse(16)

  protected def describe =
    Seq("inputView" -> inputView, "outputView" -> outputView, "groupCol" -> groupCol)

  protected def output()(implicit ctx: PipelineContext): DataFrame =
    Assemble.threads(Views.resolve(inputView), groupCol, orderCols.map(col),
      payloadCol, maxTurns)
}

/** Retrieval stage over [[Retrieval]]: build an inverted-index dictionary
  * or run BM25 ranked search from a declarative pipeline.
  */
final class RetrievalTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "index")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  val minDf = r.long("minDf").getOrElse(1L)
  val queryTerms = r.stringList("queryTerms")
  val k = r.int("k").getOrElse(10)
  val k1 = r.double("k1").getOrElse(1.2)
  val b = r.double("b").getOrElse(0.75)
  // rrf only: ranked-list views (each with doc_id + rnk) and the
  // rank-smoothing constant
  val rankViews = r.stringList("rankViews")
  val rrfK = r.int("rrfK").getOrElse(60)
  // rank_eval only: the qrels view (query_id, doc_id); inputView is the
  // run (query_id, doc_id, rnk)
  val qrelsView = r.string("qrelsView")
  // qld only: Dirichlet prior mass
  val mu = r.double("mu").getOrElse(2000.0)
  // rm3 only: feedback depth and expansion-term budget
  val fbDocs = r.int("fbDocs").getOrElse(5)
  val fbTerms = r.int("fbTerms").getOrElse(10)
  // bm25 without terms / rrf without lists would only surface at
  // runtime — fail at parse
  if ((method == "bm25" || method == "qld" || method == "rm3")
      && queryTerms.isEmpty)
    r.error("queryTerms", s"missing or empty; $method requires query terms")
  if (method == "rrf" && rankViews.isEmpty)
    r.error("rankViews", "missing or empty; rrf requires ranked-list views")
  if (method == "rank_eval" && qrelsView.isEmpty)
    r.error("qrelsView", "missing; rank_eval requires a qrels view")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "index" -> (in => Retrieval.invertedIndex(in, idCol, textCol, minDf)),
    "bm25" -> (in =>
      Retrieval.bm25TopK(in, idCol, textCol, queryTerms, k, k1, b)),
    "rrf" -> (_ => Retrieval.rrfFuse(rankViews.map(Views.resolve), k, rrfK)),
    "rank_eval" -> (in =>
      Retrieval.rankEval(in, Views.resolve(qrelsView.get), k)),
    // Dirichlet-smoothed query-likelihood ranking (mu = prior mass)
    "qld" -> (in =>
      Retrieval.qldTopK(in, idCol, textCol, queryTerms, k, mu)),
    // RM3 pseudo-relevance feedback over qld (uniform doc weights)
    "rm3" -> (in =>
      Retrieval.rm3TopK(in, idCol, textCol, queryTerms, k, fbDocs, fbTerms, mu)))
}

/** PII stage over [[Pii]]: per-doc detection counts or in-place
  * redaction of emails / IPv4s / phone tokens.
  */
final class PiiTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "stats")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  // kanon / suppress / ldiversity: the quasi-identifier columns;
  // noisy_counts: dims
  val cols = r.stringList("cols")
  val k = r.long("k").getOrElse(8L)
  val scale = r.double("scale").getOrElse(1.0)
  val salt = r.string("salt").getOrElse("")
  // ldiversity / tcloseness: the sensitive column (textCol would
  // mislead here)
  val sensitiveCol = r.string("sensitiveCol").getOrElse("")
  // tcloseness: the paper's distribution-distance threshold
  val t = r.double("t").getOrElse(0.2)
  // randomized_response: truth probability pNum/pDen over sensitiveCol
  val pNum = r.long("pNum").getOrElse(3L)
  val pDen = r.long("pDen").getOrElse(4L)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "stats" -> (in => Pii.stats(in, idCol, textCol)),
    "scrub" -> (in => Pii.scrub(in, textCol)),
    "kanon" -> (in => Pii.kAnonymityProfile(in, cols, k)),
    "suppress" -> (in => Pii.kAnonymize(in, cols, k)),
    "noisy_counts" -> (in => Pii.noisyCounts(in, cols, scale, salt)),
    "ldiversity" -> { in =>
      require(sensitiveCol.nonEmpty,
        "pii method 'ldiversity' requires 'sensitiveCol'")
      Pii.lDiversityProfile(in, cols, sensitiveCol, k)
    },
    // distribution distance of each combo's sensitive attribute from
    // the corpus (ordered EMD, the Li-Li-Venkatasubramanian audit)
    "tcloseness" -> { in =>
      require(sensitiveCol.nonEmpty,
        "pii method 'tcloseness' requires 'sensitiveCol'")
      Pii.tClosenessProfile(in, cols, sensitiveCol, t)
    },
    // salted-hash surrogate keys over the `cols` identifier columns
    "pseudonymize" -> (in => Pii.pseudonymize(in, cols, salt)),
    // release audit: surrogates mapping >1 distinct original value
    "pseudonym_audit" -> { in =>
      require(cols.nonEmpty,
        "pii method 'pseudonym_audit' requires one column in 'cols'")
      Pii.pseudonymCollisions(in, cols.head, salt)
    },
    // local-DP GRR counts over the sensitive column
    "randomized_response" -> (in =>
      Pii.randomizedResponseCounts(in, idCol,
        if (sensitiveCol.nonEmpty) sensitiveCol else textCol,
        pNum, pDen,
        salt = if (salt.nonEmpty) salt else "rr")))
}

/** Classifier stage over [[Classify]]: train-and-score the hashed
  * Naive Bayes quality filter, or evaluate any scored/labeled view
  * (exact AUC, confusion metrics, reliability bins, Cohen's kappa).
  */
final class ClassifyTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "train_score")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  // train_score: SQL boolean expression labeling the positive class
  val positiveExpr = r.string("positiveExpr").getOrElse("")
  val buckets = r.int("buckets").getOrElse(128)
  val labelCol = r.string("labelCol").getOrElse("label")
  val scoreCol = r.string("scoreCol").getOrElse("score")
  val predCol = r.string("predCol").getOrElse("pred")
  val binWidth = r.double("binWidth").getOrElse(1.0)
  // agreement (and mcnemar): the two labelings/predictions to compare
  val aCol = r.string("aCol").getOrElse("a")
  val bCol = r.string("bCol").getOrElse("b")
  // conformal: test view + truth/prediction columns + miscoverage
  if (method == "conformal" && r.string("rightView").isEmpty)
    r.error("rightView", "missing; conformal needs the test view")
  val rightView = r.string("rightView").getOrElse("")
  val yCol = r.string("yCol").getOrElse("y")
  val yhatCol = r.string("yhatCol").getOrElse("yhat")
  val alpha = r.double("alpha").getOrElse(0.1)
  // krippendorff: one column per rater (null = abstained)
  val raterCols = r.stringList("raterCols")
  if (method == "krippendorff" && raterCols.size < 2)
    r.error("raterCols", "missing or < 2; krippendorff needs raters")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "train_score" -> { in =>
      require(positiveExpr.nonEmpty,
        "classify method 'train_score' requires 'positiveExpr'")
      Classify.naiveBayes(in, idCol, textCol, expr(positiveExpr), buckets)
    },
    "auc" -> (in => Classify.rocAuc(in, labelCol, scoreCol)),
    "confusion" -> (in => Classify.confusion(in, labelCol, predCol)),
    "calibration" -> (in =>
      Classify.reliabilityBins(in, labelCol, scoreCol, binWidth)),
    "agreement" -> (in => Classify.agreement(in, aCol, bCol)),
    // paired two-model comparison on shared examples
    "mcnemar" -> (in => Classify.mcnemar(in, labelCol, aCol, bCol)),
    // split-conformal interval from cal (inputView) + test (rightView)
    "conformal" -> (in =>
      Classify.conformal(in, Views.resolve(rightView), yCol, yhatCol, alpha)),
    // multi-rater agreement with missing labels (nominal alpha)
    "krippendorff" -> (in => Classify.krippendorffAlpha(in, idCol, raterCols)))
}

/** Graph stage over [[Graph]]: centrality, components, cohesion and walk
  * operators on an edge view with `srcCol`/`dstCol` columns.
  */
final class GraphTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "pagerank")
  val srcCol = r.string("srcCol").getOrElse("src")
  val dstCol = r.string("dstCol").getOrElse("dst")
  val iters = r.int("iters").getOrElse(3)
  val dampNum = r.long("dampNum").getOrElse(850L)
  val dampDen = r.long("dampDen").getOrElse(1000L)
  val groupCol = r.string("groupCol").getOrElse("g")
  val nodeCol = r.string("nodeCol").getOrElse("n")
  val maxGroup = r.int("maxGroup").getOrElse(256)
  val coreK = r.int("coreK").getOrElse(3)
  val seedPrefix = r.string("seedPrefix").getOrElse("s")
  // modularity only: view holding the (node, community) assignment
  val assignView = r.string("assignView").getOrElse("")
  // lineage truncation cadence for the iterative methods (0 = off)
  val checkpointEvery = r.int("checkpointEvery").getOrElse(0)
  // scc / topo_layers: outer trim+color rounds and per-round fixpoint cap
  val maxOuter = r.int("maxOuter").getOrElse(12)
  val maxIter = r.int("maxIter").getOrElse(25)
  // walks: neighbor-pick hash salt (iters doubles as the walk length)
  val salt = r.string("salt").getOrElse("")
  // degree_alpha: smallest degree the power-law tail fit includes
  val dMin = r.long("dMin").getOrElse(2L)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    // the directed (src, dst) edge view of the directed methods
    def dir(in: DataFrame) = in.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // the canonical undirected edge view: self-loops dropped, (a, b) with
    // a < b, distinct — the input contract of the undirected methods
    def und(in: DataFrame) = in
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") < col("b")).distinct()
    def withIters(out: => DataFrame) = {
      detail += "iters" -> iters.toString
      out
    }
    Seq(
      "pagerank" -> (in => withIters(
        Graph.pagerank(dir(in), iters, dampNum, dampDen, checkpointEvery))),
      // Katz walk centrality (dampNum/dampDen double as alpha)
      "katz" -> (in => withIters(
        Graph.katz(dir(in), iters, dampNum, dampDen, checkpointEvery))),
      // HITS hubs & authorities (Kleinberg 1999)
      "hits" -> (in => withIters(Graph.hits(dir(in), iters, checkpointEvery))),
      "triangles" -> (in => Graph.triangleCounts(und(in))),
      "cooccur_edges" -> (in =>
        Graph.coOccurrenceEdges(in, groupCol, nodeCol, maxGroup)),
      // iters doubles as the peel-rounds budget
      "kcore" -> (in => Graph.kCore(und(in), coreK, iters, checkpointEvery)),
      // edge-cohesion peel: coreK = k, iters = the peel-rounds budget
      "ktruss" -> (in => Graph.kTruss(und(in), coreK, iters)),
      "lpa" -> (in => Graph.labelPropagation(und(in), iters, checkpointEvery)),
      // candidate new edges by shared-neighbor structure; maxGroup
      // doubles as the wedge-center degree cap, coreK as minCommon
      "link_pred" -> (in =>
        Graph.linkPrediction(und(in), maxDegree = maxGroup,
          minCommon = coreK.toLong)),
      // teleport mass pinned to nodes with the seedPrefix
      "ppr" -> (in =>
        Graph.personalizedPagerank(dir(in),
          col("node").startsWith(seedPrefix), iters, dampNum, dampDen,
          checkpointEvery)),
      // generic weakly-connected components (min-label fixpoint)
      "cc" -> (in =>
        Dedup.connectedComponents(in.select(col(srcCol).as("doc_a"),
            col(dstCol).as("doc_b")))
          .select(col("doc_id").as("node"), col("component"))),
      // HyperBall family over the canonical undirected edge view;
      // iters doubles as the radius
      "ball" -> (in =>
        Graph.neighborhoodSizes(und(in), iters, checkpointEvery = checkpointEvery)),
      "harmonic" -> (in =>
        Graph.harmonicCentrality(und(in), iters, checkpointEvery = checkpointEvery)),
      "nf" -> (in =>
        Graph.neighborhoodFunction(und(in), iters, checkpointEvery = checkpointEvery)),
      // Newman Q of an assignment view with (node, community) columns
      "modularity" -> { in =>
        require(assignView.nonEmpty,
          "modularity requires assignView with (node, community) columns")
        Graph.modularity(und(in), Views.resolve(assignView))
      },
      // Newman degree assortativity of the canonical undirected view
      "assortativity" -> (in => Graph.assortativity(und(in))),
      // strongly-connected components of the DIRECTED view
      "scc" -> (in => Graph.scc(dir(in), maxOuter, maxIter)),
      // longest-path depth of the SCC condensation (same digraph)
      "topo_layers" -> (in =>
        Graph.topoLayers(dir(in), maxOuter, maxIter,
          if (checkpointEvery > 0) checkpointEvery else 1)),
      // hash-deterministic node2vec-style walks; iters = the walk length
      "walks" -> (in =>
        Graph.deterministicWalks(und(in), length = iters, salt = salt)),
      // local clustering coefficient per node (triangles / wedges)
      "clustering" -> (in => Graph.clusteringCoefficients(und(in))),
      // directed-edge reciprocity of the raw (src, dst) view
      "reciprocity" -> (in => Graph.reciprocity(dir(in))),
      // Clauset-Shalizi-Newman discrete MLE of the degree tail exponent
      "degree_alpha" -> (in => Graph.degreePowerLaw(und(in), dMin)))
  }
}

/** Bloom-pruned semi join stage over [[Joins.bloomSemi]]: keep the
  * fact-side rows whose key appears in the (possibly pre-filtered) dim
  * view, pruning the fact scan with a sketch-sized Bloom filter before
  * the exact join.
  */
final class BloomJoinTransformStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputView = r.requiredString("inputView") // fact side
  val rightView = r.requiredString("rightView") // dim side (key source)
  val outputView = r.requiredString("outputView")
  val leftKey = r.requiredString("leftKey")
  val rightKey = r.requiredString("rightKey")
  val mBits = r.int("mBits").getOrElse(1 << 23)
  val k = r.int("k").getOrElse(5)

  protected def describe =
    Seq("inputView" -> inputView, "rightView" -> rightView, "outputView" -> outputView)

  protected def output()(implicit ctx: PipelineContext): DataFrame =
    Joins.bloomSemi(Views.resolve(inputView), Views.resolve(rightView),
      leftKey, rightKey, mBits, k)
}

/** Table-maintenance stage over [[Maintenance.compact]]: rewrite a
  * sliver-file parquet directory into ~targetBytes outputs and publish
  * the compacted copy as a view. Runs between pipelines, not inside the
  * hot path.
  */
final class CompactFilesStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputDir = r.requiredString("inputDir")
  val outputDir = r.requiredString("outputDir")
  val outputView = r.requiredString("outputView")
  val targetBytes = r.long("targetBytes").getOrElse(128L * 1024 * 1024)

  protected def describe =
    Seq("inputDir" -> inputDir, "outputDir" -> outputDir, "outputView" -> outputView)

  protected def output()(implicit ctx: PipelineContext): DataFrame = {
    val (out, nFiles) = Maintenance.compact(ctx.spark, inputDir, outputDir,
      targetBytes)
    detail += "outputFiles" -> nFiles.toString
    out
  }
}

/** Categorical-encoding stage over [[Encoding]]: dense-id encoding
  * (`encode`), the bounded vocabulary table itself (`vocab`), or
  * leave-one-out target encoding (`target_loo`). `vocab`, `target_loo`
  * and `woe` read the FIRST entry of `columns` as the categorical column.
  */
final class EncodeTransformStage(r: ConfigReader) extends TransformStage(r) {
  val columns = r.stringList("columns")
  val method: String = select("method", "encode")
  if ((method == "vocab" || method == "target_loo" || method == "woe")
      && columns.isEmpty)
    r.error("columns", s"missing or empty; $method reads columns[0]")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val targetCol = r.string("targetCol").getOrElse("label")
  val maxVocab = r.long("maxVocab").getOrElse(1000000L)
  // woe only: Laplace smoothing
  val alpha = r.double("alpha").getOrElse(0.5)

  override protected def describe =
    super.describe :+ ("columns" -> columns.mkString(","))

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "encode" -> (in => Encoding.encode(in, columns)),
    "vocab" -> (in => Encoding.vocab(in, columns.head, maxVocab)),
    "target_loo" -> (in =>
      Encoding.targetEncodeLoo(in, idCol, columns.head, targetCol)),
    "woe" -> (in => Encoding.woe(in, columns.head, targetCol, alpha)))
}

/** Deterministic-sketch stage over [[graft.functions.Sketches]]: per-group
  * distinct estimates (hll / kmv) and heavy-key frequency estimates (cms).
  */
final class SketchTransformStage(r: ConfigReader) extends TransformStage(r) {
  import graft.functions.Sketches

  val method: String = select("method", "hll")
  val keyCol = r.requiredString("keyCol")
  val groupCols = r.stringList("groupCols")
  // a grouped-HLL without groupCols would only surface at runtime
  if ((method == "hll" || method == "hll_intersect") && groupCols.isEmpty)
    r.error("groupCols", s"missing or empty; $method requires group columns")
  val m = r.int("m").getOrElse(512)
  val k = r.int("k").getOrElse(256)
  val depth = r.int("depth").getOrElse(4)
  val width = r.int("width").getOrElse(256)
  val topN = r.int("topN").getOrElse(10)
  // the two-corpus methods: the second corpus view (B side)
  val otherView = requiredBy("otherView", "hll_intersect", "kmv_jaccard",
    "kmv_diff", "join_size")
  // hll_rolling only: integral time-bucket column + trailing window
  val bucketCol = r.string("bucketCol").getOrElse("bucket")
  val window = r.int("window").getOrElse(7)
  // kmv_jaccard only: key column on the B side ("" = keyCol)
  val otherKeyCol = r.string("otherKeyCol").getOrElse("")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    def other = {
      detail += "otherView" -> otherView
      Views.resolve(otherView)
    }
    def otherKey = col(if (otherKeyCol.nonEmpty) otherKeyCol else keyCol)
    Seq(
      "hll" -> (in => Sketches.hllDistinct(in, col(keyCol), groupCols, m)),
      "kmv" -> (in => Sketches.kmvDistinct(in, col(keyCol), k)),
      "cms" -> (in => Sketches.cmsHeavy(in, col(keyCol), depth, width, topN)),
      "hll_intersect" -> { in =>
        val b = other
        Sketches.hllIntersectEstimate(
          Sketches.hllRegisters(in, col(keyCol), groupCols, m),
          Sketches.hllRegisters(b, col(keyCol), groupCols, m),
          groupCols, m)
      },
      "hll_rolling" -> { in =>
        detail += "bucketCol" -> bucketCol
        detail += "window" -> window.toString
        Sketches.hllRolling(in, col(bucketCol), col(keyCol), window, m)
      },
      "kmv_jaccard" -> (in =>
        Sketches.kmvJaccard(in, col(keyCol), other, otherKey, k)),
      "kmv_diff" -> (in =>
        Sketches.kmvDifference(in, col(keyCol), other, otherKey, k)),
      // pre-shuffle join-size estimate from two CMS sketches
      "join_size" -> (in =>
        Sketches.cmsJoinSize(in, col(keyCol), other, otherKey, depth, width)))
  }
}

/** Multimodal payload stage over [[Multimodal]]: binary payloads with
  * typed metadata. `decode` runs [[Multimodal.MediaDecoder.deterministicFake]]
  * (a production deployment swaps a real codec behind the same trait —
  * the stage surface is decoder-agnostic by design).
  */
final class MultimodalTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "meta")
  val idCol = r.string("idCol").getOrElse("doc_id")
  val textCol = r.string("textCol").getOrElse("text")
  val formatCol = r.string("formatCol")
  val metaCols = r.stringList("metaCols")
  val everyN = r.int("everyN").getOrElse(2)
  val maxDim = r.int("maxDim").getOrElse(128)
  val maxHamming = r.int("maxHamming").getOrElse(3)
  val maxBucket = r.int("maxBucket").getOrElse(4096)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    def decoded(in: DataFrame) = Multimodal.decodeAll(in,
      Multimodal.MediaDecoder.deterministicFake)(ctx.spark).toDF()
    Seq(
      "attach" -> (in => formatCol match {
        case Some(f) => Multimodal.attachTyped(in, idCol, textCol, f)
        case None => Multimodal.attach(in, idCol, textCol, metaCols)
      }),
      "meta" -> (in => Multimodal.payloadMeta(in)),
      "validate" -> (in => Multimodal.validatePayloads(in)),
      "decode" -> (in => decoded(in)),
      "frames" -> (in => Multimodal.frameSample(decoded(in), everyN)),
      "resize" -> (in => Multimodal.resizeMeta(decoded(in), maxDim)),
      "features" -> (in => Multimodal.featureVectors(decoded(in))),
      "phash" -> (in => Multimodal.perceptualHashes(in)),
      "phash_pairs" -> (in => Multimodal.phashPairs(in, maxHamming, maxBucket)))
  }
}

/** URL/domain curation stage over [[Url]] (round 17): canonical URL
  * normalization, the domain mixture report, the m-estimate domain
  * quality scores, and the domain-gated row filter — the crawl-curation
  * front door as pipeline configuration.
  */
final class UrlTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "normalize")
  val urlCol = r.string("urlCol").getOrElse("url")
  val tokenCol = r.string("tokenCol").getOrElse("n_tokens")
  val goodCol = r.string("goodCol").getOrElse("good")
  val minShrunk = r.double("minShrunk").getOrElse(0.5)
  val m = r.double("m").getOrElse(20.0)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "normalize" -> (in => Url.normalize(in, urlCol)),
    "domain_mix" -> (in => Url.domainMix(in, urlCol, tokenCol)),
    "domain_quality" -> (in => Url.domainQuality(in, urlCol, goodCol, m)),
    "domain_filter" -> (in =>
      Url.domainFilter(in, urlCol, goodCol, minShrunk, m)))
}

/** CDC stage over [[Cdc]]: latest-wins upsert merge of a change-feed view
  * into a base view, SCD2 interval build from an append-only log, and
  * snapshot-diff change-feed derivation.
  */
final class CdcTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "upsert")
  val changesView = r.string("changesView")
  if (method == "upsert" && changesView.isEmpty)
    r.error("changesView", "missing; upsert requires a change-feed view")
  val nextView = r.string("nextView")
  if ((method == "derive" || method == "changed_keys") && nextView.isEmpty)
    r.error("nextView", s"missing; $method requires the next-snapshot view")
  val keyCol = r.string("keyCol").getOrElse("id")
  // changed_keys: composite key columns (falls back to keyCol)
  val keys = r.stringList("keys")
  val versionCol = r.string("versionCol").getOrElse("version")
  val opCol = r.string("opCol").getOrElse("op")
  val tsCol = r.string("tsCol").getOrElse("ts")
  val stateCol = r.string("stateCol").getOrElse("state")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "upsert" -> (in =>
      Cdc.upsert(in, Views.resolve(changesView.get), keyCol, versionCol, opCol)),
    "scd2" -> (in => Cdc.scd2(in, keyCol, tsCol, stateCol)),
    // change-feed derivation: inputView = old snapshot, nextView = new
    "derive" -> (in => Cdc.derive(in, Views.resolve(nextView.get), keyCol)),
    // key-sized diff: which keys changed (values via 'derive')
    "changed_keys" -> (in =>
      Maintenance.changedKeys(in, Views.resolve(nextView.get),
        if (keys.nonEmpty) keys else Seq(keyCol))))
}

/** Time-series stage over [[TimeSeries]]: hourly densification, control
  * charts, smoothing, seasonal baselines and trend tests per key.
  */
final class GapfillTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "gapfill")
  val tsCol = r.string("tsCol").getOrElse("ts")
  val keyCol = r.requiredString("keyCol")
  val idCol = r.string("idCol").getOrElse("event_id")
  val valueCol = r.string("valueCol").getOrElse("value")
  val target = r.double("target").getOrElse(0.0)
  val slack = r.double("slack").getOrElse(0.0)
  val threshold = r.double("threshold").getOrElse(1.0)
  val startCol = r.string("startCol").getOrElse("start_us")
  val endCol = r.string("endCol").getOrElse("end_us")
  val bucketSeconds = r.long("bucketSeconds").getOrElse(3600L)
  // ewma / holt smoothing coefficients
  val alpha = r.double("alpha").getOrElse(0.25)
  val beta = r.double("beta").getOrElse(0.25)
  // changepoint / forecast_eval: the per-key series order column
  val ordCol = r.string("ordCol").getOrElse("ord")
  // forecast_eval only: valueCol is the actual, this the prediction
  val forecastCol = r.string("forecastCol").getOrElse("forecast")
  // acf: largest autocorrelation lag (hours)
  val maxLag = r.int("maxLag").getOrElse(24)
  // rolling: trailing time-window width
  val windowSeconds = r.long("windowSeconds").getOrElse(3600L)
  // rolling_median: trailing row-window width
  val k = r.int("k").getOrElse(5)
  // anomaly_weekly: MAD multiplier for the outlier flag
  val madK = r.double("madK").getOrElse(3.5)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "gapfill" -> (in => TimeSeries.gapfillHourly(in, tsCol, keyCol)),
    "cusum" -> (in => TimeSeries.cusum(in, tsCol, keyCol, idCol,
      valueCol, target, slack, threshold)),
    "utilization" -> (in => TimeSeries.intervalUtilization(in, keyCol,
      startCol, endCol, bucketSeconds)),
    // hour-of-day baseline deviation flags over the dense grid
    "seasonal" -> (in => TimeSeries.seasonalDeviation(in, tsCol, keyCol)),
    "ewma" -> (in => TimeSeries.ewma(in, tsCol, keyCol, idCol, valueCol, alpha)),
    "holt" -> (in => TimeSeries.holt(in, tsCol, keyCol, idCol, valueCol,
      alpha, beta)),
    // best single mean-shift split per key (binary segmentation step)
    "changepoint" -> (in =>
      TimeSeries.changepoint(in, keyCol, ordCol, valueCol)),
    // per-key MAE/RMSE/MAPE/sMAPE/MASE scorecard
    "forecast_eval" -> (in =>
      TimeSeries.forecastEval(in, keyCol, ordCol, valueCol, forecastCol)),
    // hour-of-WEEK (168-cell) baseline variants of seasonal
    "seasonal_weekly" -> (in =>
      TimeSeries.seasonalDeviationWeekly(in, tsCol, keyCol)),
    "anomaly_weekly" -> (in =>
      TimeSeries.seasonalAnomalyWeekly(in, tsCol, keyCol, madK)),
    // per-key autocorrelation over the dense hourly grid
    "acf" -> (in => TimeSeries.acf(in, tsCol, keyCol, maxLag)),
    // nonparametric trend: Mann-Kendall S/tau and Theil-Sen slope
    "mann_kendall" -> (in => TimeSeries.mannKendall(in, tsCol, keyCol)),
    "theil_sen" -> (in => TimeSeries.theilSen(in, tsCol, keyCol)),
    // trailing aggregates: time-window mean/sum, row-window median
    "rolling" -> (in =>
      TimeSeries.rolling(in, tsCol, keyCol, valueCol, windowSeconds)),
    "rolling_median" -> (in =>
      TimeSeries.rollingMedian(in, tsCol, keyCol, idCol, valueCol, k)),
    // pairwise banded DTW between per-key series; maxLag = the band
    "dtw" -> (in => TimeSeries.dtw(in, tsCol, keyCol, maxLag)))
}

/** Z-order layout stage over [[Layout]]: `manifest` emits the per-block
  * min-max table of the Morton ordering; `write` materializes the full
  * skipping index (block-partitioned data + manifest) under `outputDir`
  * and registers the manifest. Dimensions come from `cols` (N-column,
  * Delta/Iceberg ZORDER BY parity) or the classic xCol/yCol pair.
  */
final class ZorderTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "manifest")
  val outputDir = requiredBy("outputDir", "write", "delete", "hilbert_write")
  // dimensions: the N-column "cols" list (ZORDER BY parity) or the
  // classic xCol/yCol pair — exactly one form. A targeted delete
  // operates on the stored layout and needs no curve columns.
  val cols: Seq[String] = {
    val listed = r.stringList("cols")
    if (listed.nonEmpty && listed.size < 2)
      r.error("cols", s"need >= 2 columns to interleave, got ${listed.size}")
    // read on every path: a key the stage never reads is unknown
    val (x, y) = (r.string("xCol"), r.string("yCol"))
    if (method == "delete") Nil
    else if (listed.size >= 2) listed
    else Seq(x.getOrElse(r.requiredString("xCol")),
      y.getOrElse(r.requiredString("yCol")))
  }
  val idCol = r.requiredString("idCol")
  val blockSize = r.long("blockSize").getOrElse(4096L)
  val bits = r.int("bits").getOrElse(16)
  // write replaces the layout wholesale: the destructive-write latch
  // (confirm.truncate=true) applies exactly as it does on LoadStage
  val options = r.stringMap("params")

  override protected def describe =
    Seq("inputView" -> inputView, "outputView" -> outputView, "method" -> method)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    def dir = {
      detail += "outputDir" -> outputDir
      outputDir
    }
    Seq(
      "manifest" -> (in => Layout.zorderManifestN(in, cols, idCol, blockSize, bits)),
      "write" -> (in =>
        Layout.zorderWriteN(in, cols, idCol, dir, blockSize, bits,
          options)),
      // Hilbert curve variant: the 2-D walk for k=2, Skilling's N-D
      // transpose beyond — tighter blocks, same manifest shape
      "hilbert_manifest" -> (in =>
        if (cols.size == 2)
          Layout.hilbertManifest(in, cols(0), cols(1), idCol, blockSize, bits)
        else Layout.hilbertManifestN(in, cols, idCol, blockSize, bits)),
      // Hilbert skipping index (2-D): same store shape, tighter blocks
      "hilbert_write" -> { in =>
        require(cols.size == 2, s"hilbert_write is 2-D, got ${cols.size} cols")
        Layout.hilbertWrite(in, cols(0), cols(1), idCol, dir,
          blockSize, bits, options)
      },
      // targeted delete (right-to-be-forgotten): the input view's idCol
      // column IS the deletion request; statistics-pruned block rewrite
      "delete" -> { in =>
        val d = dir
        val ids = in.select(col(idCol).cast("long"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
        Layout.targetedDelete(in.sparkSession, d, idCol, ids, options)
      })
  }
}

/** Behavioral-analytics stage over [[Behavior]]: ordered funnels, cohort
  * retention, Markov transitions, and linear multi-touch attribution
  * from a declarative pipeline.
  */
final class BehaviorTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "funnel")
  val tsCol = r.string("tsCol").getOrElse("ts")
  val userCol = r.string("userCol").getOrElse("user_id")
  val typeCol = r.string("typeCol").getOrElse("event_type")
  val idCol = r.string("idCol").getOrElse("event_id")
  val valueCol = r.string("valueCol").getOrElse("value")
  val steps = r.stringList("steps")
  if (method == "funnel" && steps.size < 2)
    r.error("steps", "funnel requires >= 2 steps")
  val maxGapSeconds = r.long("maxGapSeconds")
  val touchType = r.string("touchType").getOrElse("click")
  val convType = r.string("convType").getOrElse("purchase")
  // attribution window; doubles as the rate_cap bucket width
  val windowSeconds = r.long("windowSeconds").getOrElse(3600L)
  // basket only: basket/item columns + minimum pair support
  val basketCol = r.string("basketCol").getOrElse("basket")
  val itemCol = r.string("itemCol").getOrElse("item")
  val minSupport = r.long("minSupport").getOrElse(10L)
  // rate_cap only: rows kept per (key, bucket)
  val k = r.int("k").getOrElse(3)
  // survival only: per-unit duration + right-censoring flag columns
  val durationCol = r.string("durationCol").getOrElse("duration")
  val observedCol = r.string("observedCol").getOrElse("observed")
  // attribution_decay only: recency half-life
  val halfLifeSeconds = r.long("halfLifeSeconds").getOrElse(900L)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "funnel" -> (in =>
      Behavior.funnel(in, tsCol, userCol, typeCol, steps, maxGapSeconds)),
    "cohort" -> (in => Behavior.cohortRetention(in, tsCol, userCol)),
    "transitions" -> (in =>
      Behavior.transitions(in, tsCol, userCol, typeCol, idCol)),
    "attribution" -> (in =>
      Behavior.linearAttribution(in, tsCol, userCol, typeCol, idCol,
        valueCol, touchType, convType, windowSeconds)),
    // recency-weighted credit with a halfLifeSeconds half-life
    "attribution_decay" -> (in =>
      Behavior.timeDecayAttribution(in, tsCol, userCol, typeCol, idCol,
        valueCol, touchType, convType, windowSeconds, halfLifeSeconds)),
    // association mining: pair support + lift within baskets
    "basket" -> (in => Behavior.basketPairs(in, basketCol, itemCol, minSupport)),
    // ingestion throttle: first-k rows per (user, windowSeconds bucket)
    "rate_cap" -> (in =>
      Behavior.rateCap(in, tsCol, userCol, idCol, windowSeconds, k)),
    // windowSeconds doubles as the debounce/throttle gap
    "debounce" -> (in =>
      Behavior.debounce(in, tsCol, userCol, idCol, windowSeconds)),
    "throttle" -> (in =>
      Behavior.throttle(in, tsCol, userCol, idCol, windowSeconds)),
    // Kaplan-Meier curve over per-unit right-censored durations
    "survival" -> (in => Behavior.kaplanMeier(in, durationCol, observedCol)),
    // top event-type trigrams over per-user ordered journeys
    "top_paths" -> (in =>
      Behavior.topPaths(in, tsCol, userCol, typeCol, idCol, k)))
}

/** Data-quality stage over [[DataQuality]] and [[Profile.joinSkew]]: the
  * declarative assertion/linkage/skew-diagnosis pass between Extract and
  * Load. `rules` are (name, boolean SQL expression) pairs evaluated in
  * one scan; linkage blocks on `blockCol` and scores weighted
  * Jaro-Winkler + exact-field agreement.
  */
final class DataQualityTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "rules")
  // sorted by rule name: config maps carry no order, and the report row
  // order must be reproducible
  val rules = r.stringMap("rules").toSeq.sortBy(_._1)
  if (method == "rules" && rules.isEmpty)
    r.error("rules", "missing or empty; method 'rules' requires them")
  val idCol = r.string("idCol").getOrElse("id")
  val blockCol = r.string("blockCol").getOrElse("block")
  val fuzzyFields = r.doubleMap("fuzzyFields", "weight", fallback = 0.0)
    .toSeq.sortBy(_._1)
  val exactFields = r.doubleMap("exactFields", "weight", fallback = 0.0)
    .toSeq.sortBy(_._1)
  val minScore = r.double("minScore").getOrElse(0.9)
  val maxBlock = r.int("maxBlock").getOrElse(1024)
  // join_skew: the probe side; referential: the parent table
  val rightView = r.string("rightView")
  if ((method == "join_skew" || method == "referential") && rightView.isEmpty)
    r.error("rightView", s"missing; $method requires a right view")
  val leftKey = r.string("leftKey").getOrElse("key")
  val rightKey = r.string("rightKey").getOrElse("key")
  val topK = r.int("topK").getOrElse(20)
  // fd: determinant columns; impute: group columns
  val lhs = r.stringList("lhs")
  if (method == "fd" && lhs.isEmpty)
    r.error("lhs", "missing or empty; method 'fd' requires determinant columns")
  if (method == "impute" && lhs.isEmpty)
    r.error("lhs", "missing or empty; method 'impute' requires group columns")
  // fd: the dependent column; impute: the value column
  val rhsCol = r.string("rhsCol").getOrElse("v")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "rules" -> (in =>
      DataQuality.checkRules(in, rules.map { case (n, e) => n -> expr(e) })),
    "linkage" -> (in =>
      DataQuality.linkageScore(in, idCol, blockCol, fuzzyFields,
        exactFields, minScore, maxBlock)),
    "join_skew" -> (in =>
      Profile.joinSkew(in, leftKey, Views.resolve(rightView.get), rightKey, topK)),
    // one FK audit row: input is the child, rightView the parent
    "referential" -> (in =>
      DataQuality.referentialCheck(Seq(
        (name, in, leftKey, Views.resolve(rightView.get), rightKey)))),
    "fd" -> (in => DataQuality.fdCheck(in, lhs, rhsCol)),
    // group-mode repair: lhs = group columns, rhsCol = value column
    "impute" -> (in => DataQuality.imputeMode(in, rhsCol, lhs)),
    // migration audit: lhs = group keys, rightView = the other table,
    // fuzzyFields' names double as the sum columns (weights unused)
    "reconcile" -> { in =>
      val rv = rightView.getOrElse(throw new IllegalArgumentException(
        "dq method 'reconcile' requires 'rightView'"))
      if (lhs.isEmpty || fuzzyFields.isEmpty)
        throw new IllegalArgumentException(
          "dq method 'reconcile' requires 'lhs' (keys) and " +
            "'fuzzyFields' (sum columns)")
      DataQuality.reconcile(in, Views.resolve(rv), lhs, fuzzyFields.map(_._1))
    })
}

/** Distributional drift stage over [[Drift]]: the snapshot-to-snapshot
  * statistical regression check (covariate shift, upstream filter
  * breakage) as pipeline configuration. `inputView` is the BEFORE
  * snapshot, `rightView` the AFTER; methods map to the exact-arithmetic
  * operators — `ks` (numeric column), `tv` (categorical column),
  * `centroid` (embedding frames keyed by `labelCol`), plus the full
  * statistics family the Scala API carries: `kruskal` / `anova` /
  * `levene` (single-view k-arm readouts over `groupCol`×`valueCol`),
  * `welch` (two-view unequal-variance t), `fisher` (single-view exact
  * 2×2 over `catCol`×`labelCol`), `proportions` / `segments`
  * (single-view two-arm conversion readouts; `segments` adds a
  * per-`segCol` stratum row, feed it into a `bh` stage for FDR
  * control), `psi` / `jsd` / `wasserstein` (two-view mix/shape
  * distances), `ks_grouped` / `wasserstein_grouped` (per-`groupCol`
  * stratified drift), `bootstrap_lift` (two-view Poisson-bootstrap
  * lift CI; `nPerms` is the resample count, `1 - alpha` the level),
  * `sequential` (single-view mSPRT always-valid p over the `lookCol`
  * schedule), and `welch_segments` (single-view per-`segCol` Welch t
  * with the in-plan exact Student-t p).
  */
final class DriftTransformStage(r: ConfigReader) extends TransformStage(r) {
  import DriftTransformStage._

  val method: String = select("method", "ks")
  // single-view methods ignore the after side; the two-sample methods
  // need it
  val rightView =
    if (singleView(method)) r.string("rightView").getOrElse("")
    else r.requiredString("rightView")
  val valueCol = r.string("valueCol").getOrElse("value")
  val catCol = r.string("catCol").getOrElse("category")
  val labelCol = r.string("labelCol").getOrElse("label")
  // profile only: columns to diff (empty = every before-side column)
  val columns = r.stringList("columns")
  // permutation only
  val idCol = r.string("idCol").getOrElse("id")
  val nPerms = r.int("nPerms").getOrElse(200)
  val salt = r.string("salt").getOrElse("")
  // cuped / srm (single-view: rightView is unused): per-unit group /
  // pre-period / experiment-period metric columns
  val groupCol = r.string("groupCol").getOrElse("group")
  val preCol = r.string("preCol").getOrElse("pre")
  val postCol = r.string("postCol").getOrElse("post")
  // srm only: designed arm weights + chi2 flag threshold
  val expected = r.doubleMap("expected", "weight", fallback = 1.0)
  if (method == "srm" && expected.isEmpty)
    r.error("expected", "missing; srm requires the designed arm weights")
  val chi2Threshold = r.double("chi2Threshold").getOrElse(3.841)
  // heavy_terms only: tokenized column + movers to keep
  val textCol = r.string("textCol").getOrElse("text")
  val k = r.int("k").getOrElse(25)
  // bh only (single-view): p-value column + FDR level
  val pCol = r.string("pCol").getOrElse("p")
  val alpha = r.double("alpha").getOrElse(0.05)
  // proportions / segments (single-view): boolean success column + the
  // two arm names under groupCol; segments adds the stratum col
  val successCol = r.string("successCol").getOrElse("success")
  val armA = r.string("armA").getOrElse("")
  val armB = r.string("armB").getOrElse("")
  if (twoArm(method)) {
    if (r.string("armA").isEmpty)
      r.error("armA", s"missing; $method requires both arm names")
    if (r.string("armB").isEmpty)
      r.error("armB", s"missing; $method requires both arm names")
  }
  val segCol = r.string("segCol").getOrElse("segment")
  // psi only: number of quantile bins from the before side
  val nBins = r.int("nBins").getOrElse(10)
  // sequential only: look ordinal column + mSPRT mixture variance
  val lookCol = r.string("lookCol").getOrElse("look")
  val tauSq = r.double("tauSq").getOrElse(0.01)
  // ratio_delta only (single-view): per-unit numerator/denominator
  val numCol = r.string("numCol").getOrElse("num")
  val denCol = r.string("denCol").getOrElse("den")
  // tost only: the equivalence margin (required, > 0)
  if (method == "tost" && r.double("margin").isEmpty)
    r.error("margin", "missing; tost requires the equivalence margin")
  val margin = r.double("margin").getOrElse(0.0)
  // power only: the target power level (alpha doubles as the level)
  val powerTarget = r.double("powerTarget").getOrElse(0.8)
  // yuen only: per-tail trim fraction
  val trim = r.double("trim").getOrElse(0.2)
  // did only (single-view): period column + the two period labels
  // (armA/armB double as treat/control)
  val periodCol = r.string("periodCol").getOrElse("period")
  val prePeriod = r.string("prePeriod").getOrElse("pre")
  val postPeriod = r.string("postPeriod").getOrElse("post")

  override protected def describe = Seq("method" -> method,
    "inputView" -> inputView, "rightView" -> rightView, "outputView" -> outputView)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = {
    lazy val after = Views.resolve(rightView)
    Seq(
      "ks" -> (before => Drift.ksStatistic(before, after, valueCol)),
      "tv" -> (before => Drift.categoricalDrift(before, after, catCol)),
      "centroid" -> (before => Drift.centroidDrift(before, after, labelCol)),
      // bounds-and-counts profile diff (Profile.drift) beside the
      // distributional statistics
      "profile" -> (before =>
        Profile.drift(before, after,
          if (columns.nonEmpty) columns else before.columns.toSeq)),
      // deterministic randomization test for the mean difference
      "permutation" -> (before =>
        Drift.meanPermutationTest(before, after, idCol, valueCol, nPerms, salt)),
      // CUPED variance reduction over per-unit (group, pre, post) rows
      "cuped" -> (before => Drift.cuped(before, groupCol, preCol, postCol)),
      // sample-ratio-mismatch chi2 guard over the designed arm weights
      "srm" -> (before => Drift.srmCheck(before, groupCol, expected, chi2Threshold)),
      // top-k vocabulary share movers between the two snapshots
      "heavy_terms" -> (before =>
        TextAnalysis.heavyChangers(before, after, textCol, k)),
      // Benjamini-Hochberg FDR over a (idCol, pCol) hypothesis table
      "bh" -> (before => Drift.bhAdjust(before, Seq(idCol), pCol, alpha)),
      // Poisson-bootstrap CI for the mean (nPerms reused as nBoot,
      // alpha as the two-sided tail: level = 1 - alpha)
      "bootstrap" -> (before =>
        Drift.bootstrapMeanCI(before, idCol, valueCol, nPerms, 1 - alpha, salt)),
      "mannwhitney" -> (before => Drift.mannWhitney(before, after, valueCol)),
      // single-view: chi2 independence of catCol x labelCol
      "chi2" -> (before => Drift.chiSquareIndependence(before, catCol, labelCol)),
      // single-view: Spearman rho of preCol vs postCol
      "spearman" -> (before => Drift.spearman(before, preCol, postCol)),
      // single-view: paired signed-rank of preCol vs postCol
      "wilcoxon" -> (before => Drift.wilcoxonSignedRank(before, preCol, postCol)),
      // single-view k-arm readouts over (groupCol, valueCol)
      "kruskal" -> (before => Drift.kruskalWallis(before, groupCol, valueCol)),
      "anova" -> (before => Drift.anovaF(before, groupCol, valueCol)),
      "levene" -> (before => Drift.brownForsythe(before, groupCol, valueCol)),
      // two-view unequal-variance mean comparison
      "welch" -> (before => Drift.welchT(before, after, valueCol)),
      // single-view exact 2x2 over catCol x labelCol (both boolean)
      "fisher" -> (before => Drift.fisherExact(before, catCol, labelCol)),
      // single-view two-arm conversion readouts
      "proportions" -> (before =>
        Drift.proportionsZ(before, groupCol, successCol, armA, armB)),
      "segments" -> (before =>
        Drift.proportionsBySegment(before, segCol, groupCol, successCol,
          armA, armB)),
      // two-view mix/shape distances
      "psi" -> (before => Drift.psi(before, after, valueCol, nBins)),
      "jsd" -> (before => Drift.jensenShannon(before, after, catCol)),
      "wasserstein" -> (before => Drift.wasserstein1(before, after, valueCol)),
      // per-stratum drift (grouped KS / W1)
      "ks_grouped" -> (before =>
        Drift.ksByGroup(before, after, groupCol, valueCol)),
      "wasserstein_grouped" -> (before =>
        Drift.wassersteinByGroup(before, after, groupCol, valueCol)),
      // two-view Poisson-bootstrap lift CI (nPerms = nBoot,
      // level = 1 - alpha, the `bootstrap` precedent)
      "bootstrap_lift" -> (before =>
        Drift.bootstrapLiftCI(before, after, idCol, valueCol, nPerms,
          1 - alpha, salt)),
      // single-view always-valid sequential readout (mSPRT)
      "sequential" -> (before =>
        Drift.sequentialMSPRT(before, lookCol, groupCol, successCol,
          armA, armB, tauSq, alpha)),
      // single-view per-segment Welch t (in-plan Student-t p)
      "welch_segments" -> (before =>
        Drift.welchBySegment(before, segCol, groupCol, valueCol, armA, armB)),
      // single-view always-valid sequential readout on a MEAN metric
      "sequential_mean" -> (before =>
        Drift.sequentialMSPRTMean(before, lookCol, groupCol, valueCol,
          armA, armB, tauSq, alpha)),
      // two-view KS with the asymptotic Kolmogorov p-value series
      "ks_test" -> (before => Drift.ksTest(before, after, valueCol)),
      // two-view Hodges-Lehmann shift estimate + Moses CI
      "hodges_lehmann" -> (before => Drift.hodgesLehmann(before, after, valueCol)),
      // single-view mutual information of catCol x labelCol
      "mi" -> (before => Drift.mutualInformation(before, catCol, labelCol)),
      // single-view post-stratified lift (groupCol = arm, segCol = stratum)
      "post_stratified" -> (before =>
        Drift.postStratified(before, groupCol, segCol, valueCol)),
      // single-view delta-method ratio-metric z (per-unit num/den rows)
      "ratio_delta" -> (before =>
        Drift.ratioDelta(before, groupCol, numCol, denCol, armA, armB)),
      // two-view equivalence test (TOST) at ±margin
      "tost" -> (before => Drift.welchTost(before, after, valueCol, margin, alpha)),
      // two-view sensitivity readout (MDE + achieved power)
      "power" -> (before =>
        Drift.powerMde(before, after, valueCol, alpha, powerTarget)),
      // two-view robust trimmed-mean comparison
      "yuen" -> (before => Drift.yuenTrimmed(before, after, valueCol, trim)),
      // single-view stratified 2x2 (Simpson-safe pooled effect)
      "cmh" -> (before =>
        Drift.cmh(before, segCol, groupCol, successCol, armA, armB)),
      // single-view difference-in-differences (armA = treat, armB = ctrl)
      "did" -> (before =>
        Drift.did(before, groupCol, periodCol, valueCol, armA, armB,
          prePeriod, postPeriod)))
  }
}

object DriftTransformStage {
  private val singleView = Set("cuped", "srm", "bh", "bootstrap", "chi2",
    "spearman", "wilcoxon", "kruskal", "anova", "levene", "fisher",
    "proportions", "segments", "sequential", "welch_segments",
    "sequential_mean", "ratio_delta", "cmh", "did")
  private val twoArm = Set("proportions", "segments", "sequential",
    "welch_segments", "sequential_mean", "ratio_delta", "cmh", "did")
}

/** Mergeable aggregate state stage over [[Maintenance.aggState]] /
  * [[Maintenance.mergeAggStates]] — the incremental-materialized-view
  * primitive as pipeline configuration: 'state' builds a shard's compact
  * state, 'merge' combines state views without rescanning rows.
  */
final class AggStateTransformStage(r: ConfigReader) extends TransformStage(r) {
  val method: String = select("method", "state")
  val keys = r.stringList("keys")
  if (keys.isEmpty) r.error("keys", "missing or empty")
  val sumCols = r.stringList("sumCols")
  if (method == "state" && sumCols.isEmpty)
    r.error("sumCols", "missing or empty; 'state' requires value columns")
  val stateViews = r.stringList("stateViews")

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "state" -> (in => Maintenance.aggState(in, keys, sumCols)),
    "merge" -> { _ =>
      val views = if (stateViews.nonEmpty) stateViews else Seq(inputView)
      Maintenance.mergeAggStates(views.map(Views.resolve), keys)
    })
}

/** Versioned-snapshot stage over [[Maintenance.publishSnapshot]] /
  * [[Maintenance.readSnapshot]] / [[Maintenance.vacuumSnapshots]]: the
  * metadata-last commit protocol as pipeline configuration. `publish`
  * writes `inputView` as the next version (and registers the data just
  * published under `outputView`); `read` time-travels (`version` empty =
  * latest); `vacuum` drops all but `keepLast` versions and requires the
  * destructive-write latch `params { "confirm.truncate" = "true" }`, as
  * Load does, registering the dropped version list.
  */
final class SnapshotStage(r: ConfigReader) extends MethodStage(r) {
  val baseDir = r.requiredString("baseDir")
  val outputView = r.requiredString("outputView")
  val method: String = select("method", "publish")
  val inputView = r.string("inputView")
  if (method == "publish" && inputView.isEmpty)
    r.error("inputView", "missing; snapshot publish requires it")
  val version = r.long("version")
  val keepLast = r.int("keepLast").getOrElse(1)
  // vacuum: writer options (the destructive confirm.truncate latch)
  val options = r.stringMap("params")

  protected def describe =
    Seq("method" -> method, "baseDir" -> baseDir, "outputView" -> outputView)

  protected def input(implicit ctx: PipelineContext): DataFrame =
    Views.resolve(inputView.get)

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "publish" -> { in =>
      val v = Maintenance.publishSnapshot(in, baseDir)
      detail += "version" -> v.toString
      Maintenance.readSnapshot(ctx.spark, baseDir, Some(v))
    },
    "read" -> (_ => Maintenance.readSnapshot(ctx.spark, baseDir, version)),
    "vacuum" -> { _ =>
      val spark: SparkSession = ctx.spark
      val dropped = Maintenance.vacuumSnapshots(spark, baseDir, keepLast, options)
      detail += "dropped" -> dropped.mkString(",")
      import spark.implicits._
      dropped.toDF("dropped_version")
    })
}
