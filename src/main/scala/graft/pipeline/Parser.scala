package graft.pipeline

import graft.connect.Connector
import graft.ops._
import org.apache.spark.sql.SaveMode

/** Pipeline-config parser: a config document → validated `Pipeline`.
  *
  * Mirrors the reference's declarative entry point
  * (ref: ArcPipeline.parseConfig usage, CassandraLoadSuite.scala:126; stage
  * shape in src/it/resources/arc.json:2-29): a top-level `stages` array,
  * each stage an object with a `type` discriminator resolved through a
  * registry (ref: ServiceLoader registration,
  * META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3), typed
  * field validation with error ACCUMULATION (every problem reported at
  * once, ref: CassandraExtract.scala:59-62), and per-stage `environments`
  * filtering (ref: arc.json:6-9).
  *
  * Each stage's config surface is written once, in its factory below: the
  * keys and defaults the factory reads through the [[ConfigReader]] are
  * the stage's options, and any other key is an `unknown option` error
  * (ref: the invalid-keys check, CassandraExtract.scala:33) — for classpath
  * [[StagePlugin]]s too.
  *
  * Configs are HOCON ([[Hocon]] — the reference is HOCON-first and its
  * arc.json files are the JSON subset), and every error carries the source
  * LINE of the offending key (`stages[2].saveMode: line 14: invalid
  * value ...` — ref parity: CassandraExtract.scala:59-62 reports HOCON
  * line numbers).
  *
  * Storage is injected: `connectors` maps the config's `connection` name to
  * a [[graft.connect.Connector]] (parquet in CI, Cassandra in production).
  */
object Parser {

  type StageFactory = (ConfigReader, Map[String, Connector]) => Stage

  /** Per-stage method/analysis enum inventory — the ONE source both the
    * stage factories below and DeclarativeParitySpec read. Every shipped
    * operator's declarative route terminates in one of these values, so
    * a new operator that is not added here fails the parity spec — the
    * mechanical stop for the round-16/17 "method-enum lag" failure mode
    * (an operator shipped with a gate query but unreachable from parsed
    * config).
    */
  val methodEnums: Map[String, Seq[String]] = Map(
    "DedupTransform" -> Seq(
      "exact", "exact_incremental", "minhash", "minhash_pairs",
      "oph_pairs", "minhash_cc", "minhash_cc_apply", "simhash",
      "simhash_pairs", "ngram_pairs", "prefix_pairs", "edit_pairs",
      "jw_pairs", "passages", "containment_pairs",
      "containment_stratified", "weighted_pairs", "knn", "keep_best",
      "cluster_stats", "minhash_incremental"),
    "SimilarityTransform" -> Seq(
      "topk", "maxsim", "ann", "ivf", "kmeans", "medoids", "kcenter",
      "neardup_pairs", "dbscan", "silhouette", "pair_quality",
      "standardize", "quantize", "project", "semantic_dedup",
      "hard_negatives", "ann_recall", "pca_cov", "health", "bitext",
      "bitext_scalable", "pq_topk", "hamming_topk", "hamming_pairs",
      "pq_recall", "opq_recall", "ivf_pq_topk", "ivf_write", "ivf_query",
      "pca_components"),
    "ContaminationTransform" -> Seq(
      "check", "novelty", "novelty_bloom", "novelty_bloom_big"),
    "ProfileTransform" -> Seq(
      "table", "histogram", "bucketize", "winsorize", "outliers",
      "outliers_mad", "correlation", "linear_fit", "percentile_rank",
      "benford", "trimmed_mean", "corpus_report", "correlation_matrix",
      "gini"),
    "RetrievalTransform" -> Seq(
      "index", "bm25", "rrf", "rank_eval", "qld", "rm3"),
    "PiiTransform" -> Seq(
      "stats", "scrub", "kanon", "suppress", "noisy_counts", "ldiversity",
      "tcloseness", "pseudonymize", "pseudonym_audit",
      "randomized_response"),
    "ClassifyTransform" -> Seq(
      "train_score", "auc", "confusion", "calibration", "agreement",
      "mcnemar", "conformal", "krippendorff"),
    "GraphTransform" -> Seq(
      "pagerank", "katz", "hits", "triangles", "cooccur_edges", "kcore",
      "ktruss", "lpa",
      "link_pred", "ppr", "cc", "ball", "harmonic", "nf", "modularity",
      "assortativity", "scc", "topo_layers", "walks", "clustering",
      "reciprocity", "degree_alpha"),
    "BehaviorTransform" -> Seq(
      "funnel", "cohort", "transitions", "attribution",
      "attribution_decay", "basket", "rate_cap", "debounce", "throttle",
      "survival", "top_paths"),
    "DataQualityTransform" -> Seq(
      "rules", "linkage", "join_skew", "referential", "fd", "impute",
      "reconcile"),
    "DriftTransform" -> Seq(
      "ks", "tv", "centroid", "profile", "permutation", "cuped", "srm",
      "heavy_terms", "bh", "bootstrap", "mannwhitney", "chi2", "spearman",
      "wilcoxon", "kruskal", "anova", "levene", "welch", "fisher",
      "proportions", "segments", "psi", "jsd", "wasserstein", "ks_grouped",
      "wasserstein_grouped", "bootstrap_lift", "sequential",
      "welch_segments", "sequential_mean", "ks_test", "hodges_lehmann",
      "mi", "post_stratified", "ratio_delta", "tost", "power", "yuen",
      "cmh", "did"),
    "Snapshot" -> Seq(
      "publish", "read", "vacuum"),
    "AggStateTransform" -> Seq(
      "state", "merge"),
    "SampleTransform" -> Seq(
      "deterministic", "stratified", "per_stratum_head", "shard_by_budget",
      "upsample", "weighted_topk", "negative", "shuffle", "pack",
      "rebalance", "top_fraction", "token_cap", "temperature",
      "systematic", "ordinal", "top_stratum", "importance", "rendezvous",
      "pareto", "split", "leakage_safe_split", "shard_manifest"),
    "TextAnalysisTransform" -> Seq(
      "quality", "quality_filter", "normalize", "chunk", "tokens",
      "langid", "fingerprint", "langdist", "repetition", "tfidf",
      "quality_score", "lm_score", "dup_spans", "dup_runs", "keyness",
      "head_coverage", "entropy", "bpe_pairs", "pmi", "blocklist",
      "bpe_apply", "bpe_fertility", "boilerplate", "ttr", "chao1",
      "readability", "zipf", "charclass", "dup_substring",
      "dup_substring_apply", "self_repetition_apply", "script_mix",
      "distinct_n", "vectorize", "bpe_learn", "heavy_hitters",
      "heavy_hitters_grouped", "lang_purity", "ngram_counts", "kn_score",
      "unigram_learn", "unigram_encode", "unigram_fertility",
      "wordpiece_learn", "wordpiece_encode", "wordpiece_fertility",
      "bytebpe_learn", "bytebpe_encode", "bytebpe_fertility",
      "html_extract", "fix_encoding", "nfc", "heaps"),
    "SketchTransform" -> Seq(
      "hll", "kmv", "cms", "hll_intersect", "hll_rolling", "kmv_jaccard",
      "kmv_diff", "join_size"),
    "MultimodalTransform" -> Seq(
      "attach", "meta", "validate", "decode", "frames", "resize",
      "features", "phash", "phash_pairs"),
    "UrlTransform" -> Seq(
      "normalize", "domain_mix", "domain_quality", "domain_filter"),
    "CdcTransform" -> Seq(
      "upsert", "scd2", "derive", "changed_keys"),
    "GapfillTransform" -> Seq(
      "gapfill", "cusum", "utilization", "seasonal", "ewma", "holt",
      "changepoint", "forecast_eval", "seasonal_weekly", "anomaly_weekly",
      "acf", "mann_kendall", "theil_sen", "rolling", "rolling_median",
      "dtw"),
    "EncodeTransform" -> Seq(
      "encode", "vocab", "target_loo", "woe"),
    "ZorderTransform" -> Seq(
      "manifest", "write", "hilbert_manifest", "hilbert_write", "delete"),
    "StreamingLoad" -> Seq("load", "ivf_append", "drift_append"))

  /** Built-in stage registry; extensible like the reference's plugin list. */
  val defaultRegistry: Map[String, StageFactory] = Map(
    "Extract" -> { (r, conns) =>
      ExtractStage(
        name = r.requiredString("name"),
        connector = connector(r, conns),
        table = r.requiredString("table"),
        outputView = r.requiredString("outputView"),
        numPartitions = r.int("numPartitions"),
        partitionBy = r.stringList("partitionBy"),
        persist = r.boolean("persist", default = false),
        options = r.stringMap("params"))
    },
    "Load" -> { (r, conns) =>
      LoadStage(
        name = r.requiredString("name"),
        connector = connector(r, conns),
        inputView = r.requiredString("inputView"),
        table = r.requiredString("table"),
        saveMode = SaveMode.valueOf(
          r.oneOf("saveMode", Seq("Append", "ErrorIfExists", "Ignore", "Overwrite"), "Overwrite")),
        numPartitions = r.int("numPartitions"),
        partitionBy = r.stringList("partitionBy"),
        options = r.stringMap("params"))
    },
    "SqlTransform" -> { (r, _) =>
      SqlTransformStage(
        name = r.requiredString("name"),
        sql = sqlOf(r),
        outputView = r.requiredString("outputView"),
        sqlParams = r.stringMap("sqlParams"),
        numPartitions = r.int("numPartitions"),
        partitionBy = r.stringList("partitionBy"),
        persist = r.boolean("persist", default = false))
    },
    "Execute" -> { (r, conns) =>
      ExecuteStage(
        name = r.requiredString("name"),
        connector = connector(r, conns),
        sql = sqlOf(r),
        sqlParams = r.stringMap("sqlParams"),
        params = r.stringMap("params"))
    },
    "TypingTransform" -> { (r, _) =>
      // read on every path: a key the factory never reads is unknown
      val schemaURI = r.string("schemaURI")
      TypingTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        schemaJson = r.string("schema").getOrElse {
          schemaURI match {
            case Some(uri) =>
              try Statements.fromUri(uri)
              catch {
                case e: Exception =>
                  r.error("schemaURI", s"cannot read '$uri': ${e.getMessage}"); "[]"
              }
            case None =>
              r.error("schema", "one of 'schema' or 'schemaURI' is required"); "[]"
          }
        })
    },
    "DedupTransform" -> { (r, _) =>
      DedupTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("DedupTransform"),
          "exact"),
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        keys = r.stringList("keys"),
        blockCols = r.stringList("blockCols"),
        // absent -> per-method library default (0.9 minhash, 0.7 ngram)
        threshold = r.double("threshold"),
        // stratified banding spends a longer signature by default (its
        // level-2 recall is 1-(1-j)^k — the operator's documented knob)
        minhashK = r.int("minhashK").getOrElse(
          if (r.string("method").contains("containment_stratified")) 128
          else 64),
        bands = r.int("bands").getOrElse(16),
        rows = r.int("rows").getOrElse(4),
        shingleN = r.int("shingleN").getOrElse(3),
        ngramN = r.int("ngramN").getOrElse(5),
        bucketWidth = r.int("bucketWidth").getOrElse(50),
        sampleMod = r.int("sampleMod").getOrElse(4),
        maxHamming = r.int("maxHamming").getOrElse(3),
        maxBucket = r.int("maxBucket").getOrElse(4096),
        maxBlock = r.int("maxBlock").getOrElse(1024),
        lshBands = r.int("lshBands").getOrElse(8),
        maxIter = r.int("maxIter").getOrElse(25),
        window = r.int("window").getOrElse(8),
        maxDist = r.int("maxDist").getOrElse(5),
        byDigest = r.boolean("byDigest", default = false),
        checkpointDir = r.string("checkpointDir"),
        seenView = r.string("seenView"),
        maxTf = r.int("maxTf").getOrElse(16),
        componentsView = r.string("componentsView"),
        scoreCol = r.string("scoreCol").getOrElse("score"))
    },
    "SimilarityTransform" -> { (r, _) =>
      SimilarityTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("SimilarityTransform"), "topk"),
        queryView = r.string("queryView"),
        k = r.int("k").getOrElse(5),
        threshold = r.double("threshold").getOrElse(0.95),
        centroidEvery = r.int("centroidEvery").getOrElse(100),
        maxBucket = r.int("maxBucket").getOrElse(4096),
        kmeansIters = r.int("kmeansIters").getOrElse(2),
        // absent -> per-method library default (ann 64/16/4, neardup 64/8/8)
        nBits = r.int("nBits"),
        bands = r.int("bands"),
        rows = r.int("rows"),
        exactReplay = r.boolean("exactReplay", default = false),
        probes = r.int("probes").getOrElse(1),
        levels = r.int("levels").getOrElse(256),
        inDim = r.int("inDim").getOrElse(64),
        outDim = r.int("outDim").getOrElse(16),
        minMargin = r.double("minMargin").getOrElse(0.01),
        subspaces = r.int("subspaces").getOrElse(8),
        indexDir = r.string("indexDir"),
        labelCol = r.string("labelCol").getOrElse("label"),
        options = r.stringMap("params"),
        pqIters = r.int("pqIters").getOrElse(1))
    },
    "AsofJoinTransform" -> { (r, _) =>
      AsofJoinTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        rightView = r.requiredString("rightView"),
        outputView = r.requiredString("outputView"),
        keys = {
          val ks = r.stringList("keys")
          if (ks.isEmpty) r.error("keys", "at least one join key is required")
          ks
        },
        leftTime = r.string("leftTime").getOrElse("ts"),
        rightTime = r.string("rightTime").getOrElse("ts"),
        forward = r.boolean("forward", default = false),
        nearest = r.boolean("nearest", default = false),
        toleranceMicros = r.long("toleranceMicros").getOrElse(Long.MaxValue))
    },
    "SaltedJoinTransform" -> { (r, _) =>
      SaltedJoinTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        rightView = r.requiredString("rightView"),
        outputView = r.requiredString("outputView"),
        keys = {
          val ks = r.stringList("keys")
          if (ks.isEmpty) r.error("keys", "at least one join key is required")
          ks
        },
        saltFactor = r.int("saltFactor").getOrElse(8))
    },
    "RangeJoinTransform" -> { (r, _) =>
      RangeJoinTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        rightView = r.requiredString("rightView"),
        outputView = r.requiredString("outputView"),
        leftTime = r.requiredString("leftTime"),
        startCol = r.requiredString("startCol"),
        endCol = r.requiredString("endCol"),
        keys = r.stringList("keys"),
        bucketSeconds = r.long("bucketSeconds").getOrElse(3600L),
        leftEnd = r.string("leftEnd"))
    },
    "ContaminationTransform" -> { (r, _) =>
      ContaminationTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        evalView = r.requiredString("evalView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("ContaminationTransform"), "check"),
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        shingleN = r.int("shingleN").getOrElse(3),
        broadcastEval = r.boolean("broadcastEval", default = true),
        mBits = r.int("mBits").getOrElse(1 << 20),
        k = r.int("k").getOrElse(5))
    },
    "ProfileTransform" -> { (r, _) =>
      val method = r.oneOf("method",
        methodEnums("ProfileTransform"), "table")
      // a group-keyed pass without byCols would only fail at runtime
      // (require in the operator) — fail at parse instead
      if ((method.startsWith("outliers") || method == "correlation"
          || method == "linear_fit" || method == "gini"
          || method == "percentile_rank" || method == "trimmed_mean")
          && r.stringList("byCols").isEmpty)
        r.error("byCols", s"missing or empty; $method requires group columns")
      ProfileTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        columns = r.stringList("columns"), // empty -> all columns
        exact = r.boolean("exact", default = true),
        method = method,
        valueCol = r.string("valueCol").getOrElse("value"),
        idCol = r.string("idCol").getOrElse("doc_id"),
        binWidth = r.double("binWidth").getOrElse(1.0),
        nBins = r.int("nBins").getOrElse(4),
        pLo = r.double("pLo").getOrElse(0.05),
        pHi = r.double("pHi").getOrElse(0.95),
        byCols = r.stringList("byCols"),
        sigma = r.double("sigma").getOrElse(3.0),
        madK = r.double("madK").getOrElse(3.5),
        xCol = r.string("xCol").getOrElse("x"),
        yCol = r.string("yCol").getOrElse("y"),
        textCol = r.string("textCol").getOrElse("text"),
        langCol = r.string("langCol").getOrElse("lang"),
        sourceCol = r.string("sourceCol").getOrElse("source"))
    },
    "RetrievalTransform" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("RetrievalTransform"), "index")
      val terms = r.stringList("queryTerms")
      val rankViews = r.stringList("rankViews")
      // bm25 without terms / rrf without lists would only surface at
      // runtime — fail at parse
      if ((method == "bm25" || method == "qld" || method == "rm3")
          && terms.isEmpty)
        r.error("queryTerms", s"missing or empty; $method requires query terms")
      if (method == "rrf" && rankViews.isEmpty)
        r.error("rankViews", "missing or empty; rrf requires ranked-list views")
      if (method == "rank_eval" && r.string("qrelsView").isEmpty)
        r.error("qrelsView", "missing; rank_eval requires a qrels view")
      RetrievalTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        minDf = r.long("minDf").getOrElse(1L),
        queryTerms = terms,
        k = r.int("k").getOrElse(10),
        k1 = r.double("k1").getOrElse(1.2),
        b = r.double("b").getOrElse(0.75),
        rankViews = rankViews,
        rrfK = r.int("rrfK").getOrElse(60),
        qrelsView = r.string("qrelsView"),
        mu = r.double("mu").getOrElse(2000.0),
        fbDocs = r.int("fbDocs").getOrElse(5),
        fbTerms = r.int("fbTerms").getOrElse(10))
    },
    "PiiTransform" -> { (r, _) =>
      PiiTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("PiiTransform"),
          "stats"),
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        cols = r.stringList("cols"),
        k = r.long("k").getOrElse(8L),
        scale = r.double("scale").getOrElse(1.0),
        salt = r.string("salt").getOrElse(""),
        sensitiveCol = r.string("sensitiveCol").getOrElse(""),
        t = r.double("t").getOrElse(0.2),
        pNum = r.long("pNum").getOrElse(3L),
        pDen = r.long("pDen").getOrElse(4L))
    },
    "ClassifyTransform" -> { (r, _) =>
      val method = r.oneOf("method",
        methodEnums("ClassifyTransform"), "train_score")
      if (method == "conformal" && r.string("rightView").isEmpty)
        r.error("rightView", "missing; conformal needs the test view")
      if (method == "krippendorff" && r.stringList("raterCols").size < 2)
        r.error("raterCols", "missing or < 2; krippendorff needs raters")
      ClassifyTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        positiveExpr = r.string("positiveExpr").getOrElse(""),
        buckets = r.int("buckets").getOrElse(128),
        labelCol = r.string("labelCol").getOrElse("label"),
        scoreCol = r.string("scoreCol").getOrElse("score"),
        predCol = r.string("predCol").getOrElse("pred"),
        binWidth = r.double("binWidth").getOrElse(1.0),
        aCol = r.string("aCol").getOrElse("a"),
        bCol = r.string("bCol").getOrElse("b"),
        rightView = r.string("rightView").getOrElse(""),
        yCol = r.string("yCol").getOrElse("y"),
        yhatCol = r.string("yhatCol").getOrElse("yhat"),
        alpha = r.double("alpha").getOrElse(0.1),
        raterCols = r.stringList("raterCols"))
    },
    "GraphTransform" -> { (r, _) =>
      GraphTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("GraphTransform"),
          "pagerank"),
        srcCol = r.string("srcCol").getOrElse("src"),
        dstCol = r.string("dstCol").getOrElse("dst"),
        iters = r.int("iters").getOrElse(3),
        dampNum = r.long("dampNum").getOrElse(850L),
        dampDen = r.long("dampDen").getOrElse(1000L),
        groupCol = r.string("groupCol").getOrElse("g"),
        nodeCol = r.string("nodeCol").getOrElse("n"),
        maxGroup = r.int("maxGroup").getOrElse(256),
        coreK = r.int("coreK").getOrElse(3),
        seedPrefix = r.string("seedPrefix").getOrElse("s"),
        assignView = r.string("assignView").getOrElse(""),
        checkpointEvery = r.int("checkpointEvery").getOrElse(0),
        maxOuter = r.int("maxOuter").getOrElse(12),
        maxIter = r.int("maxIter").getOrElse(25),
        salt = r.string("salt").getOrElse(""),
        dMin = r.long("dMin").getOrElse(2L))
    },
    "BehaviorTransform" -> { (r, _) =>
      val method = r.oneOf("method",
        methodEnums("BehaviorTransform"), "funnel")
      val steps = r.stringList("steps")
      if (method == "funnel" && steps.size < 2)
        r.error("steps", "funnel requires >= 2 steps")
      BehaviorTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        tsCol = r.string("tsCol").getOrElse("ts"),
        userCol = r.string("userCol").getOrElse("user_id"),
        typeCol = r.string("typeCol").getOrElse("event_type"),
        idCol = r.string("idCol").getOrElse("event_id"),
        valueCol = r.string("valueCol").getOrElse("value"),
        steps = steps,
        maxGapSeconds = r.long("maxGapSeconds"),
        touchType = r.string("touchType").getOrElse("click"),
        convType = r.string("convType").getOrElse("purchase"),
        windowSeconds = r.long("windowSeconds").getOrElse(3600L),
        basketCol = r.string("basketCol").getOrElse("basket"),
        itemCol = r.string("itemCol").getOrElse("item"),
        minSupport = r.long("minSupport").getOrElse(10L),
        k = r.int("k").getOrElse(3),
        durationCol = r.string("durationCol").getOrElse("duration"),
        observedCol = r.string("observedCol").getOrElse("observed"),
        halfLifeSeconds = r.long("halfLifeSeconds").getOrElse(900L))
    },
    "DataQualityTransform" -> { (r, _) =>
      val method = r.oneOf("method",
        methodEnums("DataQualityTransform"), "rules")
      if (method == "rules" && r.stringMap("rules").isEmpty)
        r.error("rules", "missing or empty; method 'rules' requires them")
      if ((method == "join_skew" || method == "referential")
          && r.string("rightView").isEmpty)
        r.error("rightView", s"missing; $method requires a right view")
      if (method == "fd" && r.stringList("lhs").isEmpty)
        r.error("lhs", "missing or empty; method 'fd' requires determinant columns")
      if (method == "impute" && r.stringList("lhs").isEmpty)
        r.error("lhs", "missing or empty; method 'impute' requires group columns")
      def weights(key: String): Seq[(String, Double)] =
        r.stringMap(key).toSeq.sortBy(_._1).map { case (k, v) =>
          k -> (try v.toDouble catch {
            case _: NumberFormatException =>
              r.error(key, s"weight for '$k' is not a number: '$v'"); 0.0
          })
        }
      DataQualityTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        // sorted by rule name: config maps carry no order, and the
        // report row order must be reproducible
        rules = r.stringMap("rules").toSeq.sortBy(_._1),
        idCol = r.string("idCol").getOrElse("id"),
        blockCol = r.string("blockCol").getOrElse("block"),
        fuzzyFields = weights("fuzzyFields"),
        exactFields = weights("exactFields"),
        minScore = r.double("minScore").getOrElse(0.9),
        maxBlock = r.int("maxBlock").getOrElse(1024),
        rightView = r.string("rightView"),
        leftKey = r.string("leftKey").getOrElse("key"),
        rightKey = r.string("rightKey").getOrElse("key"),
        topK = r.int("topK").getOrElse(20),
        lhs = r.stringList("lhs"),
        rhsCol = r.string("rhsCol").getOrElse("v"))
    },
    "DriftTransform" -> { (r, _) =>
      val driftMethod = r.oneOf("method",
        methodEnums("DriftTransform"),
        "ks")
      val singleView = Set("cuped", "srm", "bh", "bootstrap", "chi2",
        "spearman", "wilcoxon", "kruskal", "anova", "levene", "fisher",
        "proportions", "segments", "sequential", "welch_segments",
        "sequential_mean", "ratio_delta", "cmh", "did")
        .contains(driftMethod)
      val expected = r.stringMap("expected").map { case (arm, w) =>
        arm -> (try w.toDouble catch {
          case _: NumberFormatException =>
            r.error("expected", s"weight for '$arm' is not a number: '$w'")
            1.0
        })
      }
      if (driftMethod == "srm" && expected.isEmpty)
        r.error("expected", "missing; srm requires the designed arm weights")
      if (Set("proportions", "segments", "sequential", "welch_segments",
          "sequential_mean", "ratio_delta", "cmh", "did")
          .contains(driftMethod)) {
        if (r.string("armA").isEmpty)
          r.error("armA", s"missing; $driftMethod requires both arm names")
        if (r.string("armB").isEmpty)
          r.error("armB", s"missing; $driftMethod requires both arm names")
      }
      if (driftMethod == "tost" && r.double("margin").isEmpty)
        r.error("margin", "missing; tost requires the equivalence margin")
      DriftTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        // cuped/srm are single-view; the two-sample methods need the
        // after side
        rightView = if (singleView) r.string("rightView").getOrElse("")
        else r.requiredString("rightView"),
        outputView = r.requiredString("outputView"),
        method = driftMethod,
        valueCol = r.string("valueCol").getOrElse("value"),
        catCol = r.string("catCol").getOrElse("category"),
        labelCol = r.string("labelCol").getOrElse("label"),
        columns = r.stringList("columns"),
        idCol = r.string("idCol").getOrElse("id"),
        nPerms = r.int("nPerms").getOrElse(200),
        salt = r.string("salt").getOrElse(""),
        groupCol = r.string("groupCol").getOrElse("group"),
        preCol = r.string("preCol").getOrElse("pre"),
        postCol = r.string("postCol").getOrElse("post"),
        expected = expected,
        chi2Threshold = r.double("chi2Threshold").getOrElse(3.841),
        textCol = r.string("textCol").getOrElse("text"),
        k = r.int("k").getOrElse(25),
        pCol = r.string("pCol").getOrElse("p"),
        alpha = r.double("alpha").getOrElse(0.05),
        successCol = r.string("successCol").getOrElse("success"),
        armA = r.string("armA").getOrElse(""),
        armB = r.string("armB").getOrElse(""),
        segCol = r.string("segCol").getOrElse("segment"),
        nBins = r.int("nBins").getOrElse(10),
        lookCol = r.string("lookCol").getOrElse("look"),
        tauSq = r.double("tauSq").getOrElse(0.01),
        numCol = r.string("numCol").getOrElse("num"),
        denCol = r.string("denCol").getOrElse("den"),
        margin = r.double("margin").getOrElse(0.0),
        powerTarget = r.double("powerTarget").getOrElse(0.8),
        trim = r.double("trim").getOrElse(0.2),
        periodCol = r.string("periodCol").getOrElse("period"),
        prePeriod = r.string("prePeriod").getOrElse("pre"),
        postPeriod = r.string("postPeriod").getOrElse("post"))
    },
    "Snapshot" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("Snapshot"),
        "publish")
      if (method == "publish" && r.string("inputView").isEmpty)
        r.error("inputView", "missing; snapshot publish requires it")
      SnapshotStage(
        name = r.requiredString("name"),
        baseDir = r.requiredString("baseDir"),
        outputView = r.requiredString("outputView"),
        method = method,
        inputView = r.string("inputView"),
        version = r.long("version"),
        keepLast = r.int("keepLast").getOrElse(1),
        confirmTruncate = r.string("confirm.truncate")
          .exists(_.equalsIgnoreCase("true")))
    },
    "AggStateTransform" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("AggStateTransform"), "state")
      val keys = r.stringList("keys")
      if (keys.isEmpty) r.error("keys", "missing or empty")
      if (method == "state" && r.stringList("sumCols").isEmpty)
        r.error("sumCols", "missing or empty; 'state' requires value columns")
      AggStateTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        keys = keys,
        sumCols = r.stringList("sumCols"),
        stateViews = r.stringList("stateViews"))
    },
    "BloomJoinTransform" -> { (r, _) =>
      BloomJoinTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        rightView = r.requiredString("rightView"),
        outputView = r.requiredString("outputView"),
        leftKey = r.requiredString("leftKey"),
        rightKey = r.requiredString("rightKey"),
        mBits = r.int("mBits").getOrElse(1 << 23),
        k = r.int("k").getOrElse(5))
    },
    "CompactFiles" -> { (r, _) =>
      CompactFilesStage(
        name = r.requiredString("name"),
        inputDir = r.requiredString("inputDir"),
        outputDir = r.requiredString("outputDir"),
        outputView = r.requiredString("outputView"),
        targetBytes = r.long("targetBytes").getOrElse(128L * 1024 * 1024))
    },
    "SampleTransform" -> { (r, _) =>
      SampleTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("SampleTransform"),
          "deterministic"),
        idCol = r.string("idCol").getOrElse("doc_id"),
        rate = r.double("rate").getOrElse(1.0),
        salt = r.string("salt").getOrElse(""),
        stratumCol = r.string("stratumCol").getOrElse("lang"),
        rates = r.stringMap("rates").map { case (k, v) =>
          k -> (try v.toDouble catch {
            case _: NumberFormatException =>
              r.error("rates", s"rate for '$k' is not a number: '$v'"); 1.0
          })
        },
        defaultRate = r.double("defaultRate").getOrElse(1.0),
        tokenCol = r.string("tokenCol").getOrElse("n_tokens"),
        budget = r.long("budget").getOrElse(1000000L),
        k = r.int("k").getOrElse(100),
        weightCol = r.string("weightCol").getOrElse("n_tokens"),
        nBuckets = r.int("nBuckets").getOrElse(1024),
        textCol = r.string("textCol").getOrElse("text"),
        targetValue = r.string("targetValue").getOrElse("en"),
        xCol = r.string("xCol").getOrElse("x"),
        yCol = r.string("yCol").getOrElse("y"),
        componentsView = r.string("componentsView"))
    },
    "TextAnalysisTransform" -> { (r, _) =>
      TextAnalysisTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        analysis = r.oneOf("analysis",
          methodEnums("TextAnalysisTransform"),
          "quality"),
        terms = r.stringList("terms"),
        merges = r.stringList("merges"),
        // sorted by metric name: config maps carry no order, and the
        // linear accumulation order must be reproducible
        scoreWeights = r.stringMap("scoreWeights").toSeq.sortBy(_._1).map {
          case (k, v) => k -> (try v.toDouble catch {
            case _: NumberFormatException =>
              r.error("scoreWeights", s"weight for '$k' is not a number: '$v'"); 0.0
          })
        },
        bias = r.double("bias").getOrElse(0.0),
        scoreThreshold = r.double("scoreThreshold").getOrElse(0.5),
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        langCol = r.string("langCol").getOrElse("lang"),
        minChars = r.long("minChars").getOrElse(50L),
        maxChars = r.long("maxChars").getOrElse(100000L),
        minWords = r.long("minWords").getOrElse(10L),
        minTtr = r.double("minTtr").getOrElse(0.1),
        minStopwordRatio = r.double("minStopwordRatio").getOrElse(0.0),
        maxPunctRatio = r.double("maxPunctRatio").getOrElse(0.3),
        chunkSize = r.int("chunkSize").getOrElse(64),
        overlap = r.int("overlap").getOrElse(16),
        ngramN = r.int("ngramN").getOrElse(2),
        topK = r.int("topK").getOrElse(5),
        zipfTopN = r.int("zipfTopN").getOrElse(1000),
        groupCols = r.stringList("groupCols"),
        alpha = r.double("alpha").getOrElse(0.1),
        alpha0 = r.double("alpha0").getOrElse(100.0),
        window = r.int("window").getOrElse(8),
        minDocs = r.int("minDocs").getOrElse(2),
        dim = r.int("dim").getOrElse(64),
        rounds = r.int("rounds").getOrElse(4),
        discount = r.double("discount").getOrElse(0.75),
        minCount = r.long("minCount").getOrElse(1L),
        depth = r.int("depth").getOrElse(1),
        maxPieceLen = r.int("maxPieceLen").getOrElse(4),
        vocabSize = r.int("vocabSize").getOrElse(64),
        seedSize = r.int("seedSize").getOrElse(2048),
        iters = r.int("iters").getOrElse(2),
        vocab = r.stringMap("vocab").toSeq.sortBy(_._1).map { case (k, v) =>
          k -> (try v.toDouble catch {
            case _: NumberFormatException =>
              r.error("vocab", s"logp for '$k' is not a number: '$v'"); 0.0
          })
        },
        pieces = r.stringList("pieces"))
    },
    "AssembleTransform" -> { (r, _) =>
      // ordering is the stage's determinism contract: an empty list would
      // surface at runtime as an opaque AnalysisException from row_number
      // over an unordered window — fail at config time instead
      val orderCols = r.stringList("orderCols")
      if (orderCols.isEmpty)
        r.error("orderCols", "missing or empty; at least one ordering column is required")
      AssembleTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        groupCol = r.requiredString("groupCol"),
        orderCols = orderCols,
        payloadCol = r.requiredString("payloadCol"),
        maxTurns = r.int("maxTurns").getOrElse(16))
    },
    "EncodeTransform" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("EncodeTransform"),
        "encode")
      if ((method == "vocab" || method == "target_loo" || method == "woe")
          && r.stringList("columns").isEmpty)
        r.error("columns", s"missing or empty; $method reads columns[0]")
      EncodeTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        columns = r.stringList("columns"),
        method = method,
        idCol = r.string("idCol").getOrElse("doc_id"),
        targetCol = r.string("targetCol").getOrElse("label"),
        maxVocab = r.long("maxVocab").getOrElse(1000000L),
        alpha = r.double("alpha").getOrElse(0.5))
    },
    "SketchTransform" -> { (r, _) =>
      val method = r.oneOf("method",
        methodEnums("SketchTransform"), "hll")
      // a grouped-HLL without groupCols would only surface at runtime
      if ((method == "hll" || method == "hll_intersect")
          && r.stringList("groupCols").isEmpty)
        r.error("groupCols", s"missing or empty; $method requires group columns")
      val otherView = r.string("otherView").getOrElse("")
      if ((method == "hll_intersect" || method == "kmv_jaccard")
          && otherView.isEmpty)
        r.error("otherView", s"missing; $method needs the B-side view")
      SketchTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        keyCol = r.requiredString("keyCol"),
        groupCols = r.stringList("groupCols"),
        m = r.int("m").getOrElse(512),
        k = r.int("k").getOrElse(256),
        depth = r.int("depth").getOrElse(4),
        width = r.int("width").getOrElse(256),
        topN = r.int("topN").getOrElse(10),
        otherView = otherView,
        bucketCol = r.string("bucketCol").getOrElse("bucket"),
        window = r.int("window").getOrElse(7),
        otherKeyCol = r.string("otherKeyCol").getOrElse(""))
    },
    "MultimodalTransform" -> { (r, _) =>
      MultimodalTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("MultimodalTransform"),
          "meta"),
        idCol = r.string("idCol").getOrElse("doc_id"),
        textCol = r.string("textCol").getOrElse("text"),
        formatCol = r.string("formatCol"),
        metaCols = r.stringList("metaCols"),
        everyN = r.int("everyN").getOrElse(2),
        maxDim = r.int("maxDim").getOrElse(128),
        maxHamming = r.int("maxHamming").getOrElse(3),
        maxBucket = r.int("maxBucket").getOrElse(4096))
    },
    "UrlTransform" -> { (r, _) =>
      UrlTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("UrlTransform"),
          "normalize"),
        urlCol = r.string("urlCol").getOrElse("url"),
        tokenCol = r.string("tokenCol").getOrElse("n_tokens"),
        goodCol = r.string("goodCol").getOrElse("good"),
        minShrunk = r.double("minShrunk").getOrElse(0.5),
        m = r.double("m").getOrElse(20.0))
    },
    "CdcTransform" -> { (r, _) =>
      val method = r.oneOf("method",
        methodEnums("CdcTransform"), "upsert")
      val changes = r.string("changesView")
      if (method == "upsert" && changes.isEmpty)
        r.error("changesView", "missing; upsert requires a change-feed view")
      val next = r.string("nextView")
      if ((method == "derive" || method == "changed_keys") && next.isEmpty)
        r.error("nextView", s"missing; $method requires the next-snapshot view")
      CdcTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        changesView = changes,
        nextView = next,
        keyCol = r.string("keyCol").getOrElse("id"),
        keys = r.stringList("keys"),
        versionCol = r.string("versionCol").getOrElse("version"),
        opCol = r.string("opCol").getOrElse("op"),
        tsCol = r.string("tsCol").getOrElse("ts"),
        stateCol = r.string("stateCol").getOrElse("state"))
    },
    "GapfillTransform" -> { (r, _) =>
      GapfillTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = r.oneOf("method",
          methodEnums("GapfillTransform"),
          "gapfill"),
        tsCol = r.string("tsCol").getOrElse("ts"),
        keyCol = r.requiredString("keyCol"),
        idCol = r.string("idCol").getOrElse("event_id"),
        valueCol = r.string("valueCol").getOrElse("value"),
        target = r.double("target").getOrElse(0.0),
        slack = r.double("slack").getOrElse(0.0),
        threshold = r.double("threshold").getOrElse(1.0),
        startCol = r.string("startCol").getOrElse("start_us"),
        endCol = r.string("endCol").getOrElse("end_us"),
        bucketSeconds = r.long("bucketSeconds").getOrElse(3600L),
        alpha = r.double("alpha").getOrElse(0.25),
        beta = r.double("beta").getOrElse(0.25),
        ordCol = r.string("ordCol").getOrElse("ord"),
        forecastCol = r.string("forecastCol").getOrElse("forecast"),
        maxLag = r.int("maxLag").getOrElse(24),
        windowSeconds = r.long("windowSeconds").getOrElse(3600L),
        k = r.int("k").getOrElse(5),
        madK = r.double("madK").getOrElse(3.5))
    },
    "ZorderTransform" -> { (r, _) =>
      val method = r.oneOf("method", methodEnums("ZorderTransform"), "manifest")
      val outDir = r.string("outputDir")
      if ((method == "write" || method == "delete") && outDir.isEmpty)
        r.error("outputDir", s"missing; $method requires a target directory")
      // dimensions: the N-column "cols" list (ZORDER BY parity) or the
      // classic xCol/yCol pair — exactly one form. A targeted delete
      // operates on the stored layout and needs no curve columns.
      val colsList = r.stringList("cols")
      if (colsList.nonEmpty && colsList.size < 2)
        r.error("cols", s"need >= 2 columns to interleave, got ${colsList.size}")
      // read on every path: a key the factory never reads is unknown
      val (xCol, yCol) = (r.string("xCol"), r.string("yCol"))
      val dims =
        if (method == "delete") Nil
        else if (colsList.size >= 2) colsList
        else Seq(xCol.getOrElse(r.requiredString("xCol")),
          yCol.getOrElse(r.requiredString("yCol")))
      ZorderTransformStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        cols = dims,
        idCol = r.requiredString("idCol"),
        method = method,
        outputDir = outDir,
        blockSize = r.long("blockSize").getOrElse(4096L),
        bits = r.int("bits").getOrElse(16),
        options = r.stringMap("params"))
    },
    "StreamingExtract" -> { (r, _) =>
      graft.streaming.StreamingExtractStage(
        name = r.requiredString("name"),
        inputDir = r.requiredString("inputDir"),
        outputView = r.requiredString("outputView"),
        maxFilesPerTrigger = r.int("maxFilesPerTrigger").getOrElse(1))
    },
    "StreamingLoad" -> { (r, conns) =>
      val method = r.oneOf("method", methodEnums("StreamingLoad"), "load")
      // the connection resolves only when method=load actually needs it
      // (ivf_append writes through the index path, not a connector)
      val conn =
        if (method == "load") Some(connector(r, conns)) else None
      if (method == "load" && r.string("table").isEmpty)
        r.error("table", "missing; load requires a sink table")
      if (method == "ivf_append" && r.string("indexDir").isEmpty)
        r.error("indexDir", "missing; ivf_append requires the index directory")
      if (method == "drift_append" && r.string("storeDir").isEmpty)
        r.error("storeDir", "missing; drift_append requires the partial store")
      if (method == "drift_append" && r.string("referenceView").isEmpty)
        r.error("referenceView", "missing; drift_append fits bounds on it")
      graft.streaming.StreamingLoadStage(
        name = r.requiredString("name"),
        inputView = r.requiredString("inputView"),
        outputView = r.requiredString("outputView"),
        method = method,
        checkpointDir = r.requiredString("checkpointDir"),
        connector = conn,
        table = r.string("table").getOrElse(""),
        saveMode = SaveMode.valueOf(
          r.oneOf("saveMode", Seq("Append", "ErrorIfExists", "Ignore", "Overwrite"), "Append")),
        indexDir = r.string("indexDir").getOrElse(""),
        referenceView = r.string("referenceView").getOrElse(""),
        valueCol = r.string("valueCol").getOrElse("value"),
        nBins = r.int("nBins").getOrElse(10),
        storeDir = r.string("storeDir").getOrElse(""),
        options = r.stringMap("params"))
    }
  )

  /** Classpath-discovered [[StagePlugin]]s (ServiceLoader, ref parity:
    * META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3).
    * Recomputed per call so a test-installed context classloader is
    * honored; a broken provider degrades to a warning, never a parse
    * failure for configs that don't use it.
    */
  def discoveredPlugins(): Seq[StagePlugin] = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    try {
      val cl = Option(Thread.currentThread.getContextClassLoader)
        .getOrElse(classOf[StagePlugin].getClassLoader)
      val it = java.util.ServiceLoader.load(classOf[StagePlugin], cl).iterator()
      // Advance provider-by-provider: ServiceConfigurationError is thrown
      // MID-iteration by the provider that is broken, and must not take the
      // healthy providers before/after it down with it.
      val found = Seq.newBuilder[StagePlugin]
      var more = true
      var errs = 0
      while (more && errs < 64) { // bound: a hasNext that throws repeatedly must not spin forever
        try {
          more = it.hasNext
          if (more) found += it.next()
        } catch {
          case e: java.util.ServiceConfigurationError =>
            errs += 1
            log.warn(s"skipping broken stage plugin provider: ${e.getMessage}")
        }
      }
      found.result()
    } catch {
      case e: Throwable =>
        log.warn(s"stage plugin discovery failed: ${e.getMessage}")
        Seq.empty
    }
  }

  /** Statement text comes inline (`sql`) or from a URI (`inputURI`)
    * resolved at CONFIG time (ref: CassandraExecute.scala:31-32). Read and
    * parse failures are ACCUMULATED as config errors, never thrown — the
    * parse contract is `Either`, not exceptions. All three keys are read
    * on every path, so each stays a known option.
    */
  private def sqlOf(r: ConfigReader): String =
    (r.string("sql"), r.string("inputURI"), r.stringMap("authentication")) match {
      case (Some(s), _, _) => s
      case (None, Some(uri), auth) =>
        try Statements.fromUri(uri, auth)
        catch {
          case e: Exception =>
            r.error("inputURI", s"cannot read '$uri': ${e.getMessage}"); ""
        }
      case (None, None, _) =>
        r.error("sql", "one of 'sql' or 'inputURI' is required"); ""
    }

  /** Connection lookup failure is always a config error — a null connector
    * surfacing later as an NPE at run time would hide the real problem.
    */
  private def connector(r: ConfigReader, conns: Map[String, Connector]): Connector = {
    val name = r.string("connection").getOrElse("default")
    conns.getOrElse(name, {
      r.error("connection",
        s"unknown connection '$name'; have ${if (conns.isEmpty) "(none)" else conns.keySet.toSeq.sorted.mkString(", ")}")
      null
    })
  }

  /** Keys every stage may carry besides the ones its factory reads. */
  private val commonKeys = Set("type", "name", "environments", "connection")

  def parse(
      json: String,
      connectors: Map[String, Connector],
      registry: Map[String, StageFactory] = defaultRegistry): Either[List[ConfigError], Pipeline] = {
    val doc = Hocon.parse(json) match {
      case Left(err) => return Left(List(err))
      case Right(d)  => d
    }
    // `line N:` prefix from the parse's key-path positions; a missing
    // key's error anchors to its stage object's line.
    def at(stagePath: String, key: String, message: String): ConfigError = {
      val ln = doc.lines.get(s"$stagePath.$key").orElse(doc.lines.get(stagePath))
      ConfigError(s"$stagePath.$key", ln.fold(message)(l => s"line $l: $message"))
    }
    val stageVals: Seq[Any] = doc.root.get("stages") match {
      case Some(xs: List[_]) => xs
      case _ => return Left(List(ConfigError("stages", "top-level 'stages' array is required")))
    }
    // classpath plugins extend the registry; explicit/built-in entries win
    // on collision (a plugin must not silently replace a contract stage)
    val plugins = discoveredPlugins()
    val fullRegistry = plugins.map(p => p.stageType -> p.factory).toMap ++ registry
    val parsed = stageVals.zipWithIndex.map {
      case (m: Map[_, _], i) =>
        val conf = m.asInstanceOf[Map[String, Any]]
        val r = new ConfigReader(conf)
        val tpe = r.requiredString("type")
        fullRegistry.get(tpe) match {
          case None =>
            Left(List(at(s"stages[$i]", "type",
              s"unknown stage type '$tpe'; registered: ${fullRegistry.keySet.toSeq.sorted.mkString(", ")}")))
          case Some(factory) =>
            val envs = r.stringList("environments")
            val stage = factory(r, connectors)
            r.rejectUnread(commonKeys)
            r.result(StageDef(stage, envs)).left.map(_.map(e =>
              at(s"stages[$i]", e.key, e.message)))
        }
      case (_, i) => Left(List(ConfigError(s"stages[$i]", "stage must be an object")))
    }
    val errors = parsed.collect { case Left(es) => es }.flatten
    if (errors.nonEmpty) Left(errors.toList)
    else Right(Pipeline(parsed.collect { case Right(sd) => sd }))
  }
}
