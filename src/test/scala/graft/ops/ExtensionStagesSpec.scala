package graft.ops

import graft.SparkSpec
import graft.connect.ParquetConnector
import graft.pipeline._
import org.apache.spark.sql.functions.{greatest, least}

/** The extension operators as declarative pipeline stages: parsed from a
  * JSON config and run by the same Parser/Runner as the reference-parity
  * stages.
  */
class ExtensionStagesSpec extends SparkSpec {
  import spark.implicits._

  test("dedup + text analysis as config-driven pipeline stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "xs_docs"},
      {"type": "DedupTransform", "name": "dd", "method": "exact",
       "inputView": "xs_docs", "outputView": "xs_deduped"},
      {"type": "TextAnalysisTransform", "name": "ta", "analysis": "quality",
       "inputView": "xs_deduped", "outputView": "xs_quality"},
      {"type": "SimilarityTransform", "name": "unused_sim", "method": "topk",
       "inputView": "xs_docs", "outputView": "xs_never",
       "environments": ["production"]}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    assert(out.columns.contains("stopword_ratio"))
    assert(out.count() == 500) // corpus has no exact dups at this sf
    assert(spark.table("xs_quality").count() == 500)
  }

  test("similarity stage over an embeddings view") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "xs_embs"},
      {"type": "SqlTransform", "name": "q",
       "sql": "SELECT * FROM xs_embs WHERE vec_id < 3",
       "outputView": "xs_queries"},
      {"type": "SimilarityTransform", "name": "knn", "method": "topk",
       "inputView": "xs_embs", "queryView": "xs_queries", "k": 4,
       "outputView": "xs_knn"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    assert(out.count() == 12) // 3 queries x k=4
  }

  test("hard_negatives, ann_recall, entropy, bpe_pairs, containment as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "nw_embs"},
      {"type": "SqlTransform", "name": "q",
       "sql": "SELECT * FROM nw_embs WHERE vec_id < 3",
       "outputView": "nw_queries"},
      {"type": "SimilarityTransform", "name": "hn", "method": "hard_negatives",
       "inputView": "nw_embs", "queryView": "nw_queries", "k": 4,
       "outputView": "nw_hn"},
      {"type": "SimilarityTransform", "name": "rec", "method": "ann_recall",
       "inputView": "nw_embs", "queryView": "nw_queries", "k": 4,
       "outputView": "nw_rec"},
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "nw_docs"},
      {"type": "TextAnalysisTransform", "name": "ent", "analysis": "entropy",
       "inputView": "nw_docs", "outputView": "nw_ent"},
      {"type": "TextAnalysisTransform", "name": "bpe", "analysis": "bpe_pairs",
       "inputView": "nw_docs", "ngramN": 2, "outputView": "nw_bpe"},
      {"type": "DedupTransform", "name": "cont", "method": "containment_pairs",
       "inputView": "nw_docs", "outputView": "nw_cont"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).isDefined)
    import graft.pipeline.Views
    assert(Views.resolve("nw_hn").count() == 12) // 3 anchors x k=4
    assert(Views.resolve("nw_rec").count() == 3) // one recall row per anchor
    val nDocs = Views.resolve("nw_docs").count()
    assert(Views.resolve("nw_ent").count() == nDocs)
    assert(Views.resolve("nw_bpe").count() > 0)
    graft.util.Caches.unpersistAll()
  }

  test("kanon, suppress, noisy_counts, ordinal, bpe_apply as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "kn_docs"},
      {"type": "PiiTransform", "name": "ka", "method": "kanon",
       "inputView": "kn_docs", "cols": ["lang", "source"], "k": 5,
       "outputView": "kn_kanon"},
      {"type": "PiiTransform", "name": "sp", "method": "suppress",
       "inputView": "kn_docs", "cols": ["lang", "source"], "k": 5,
       "outputView": "kn_supp"},
      {"type": "PiiTransform", "name": "nc", "method": "noisy_counts",
       "inputView": "kn_docs", "cols": ["lang"], "scale": 2.0,
       "salt": "s", "outputView": "kn_noisy"},
      {"type": "SampleTransform", "name": "ord", "method": "ordinal",
       "inputView": "kn_docs", "idCol": "doc_id", "weightCol": "n_chars",
       "outputView": "kn_ord"},
      {"type": "TextAnalysisTransform", "name": "enc", "analysis": "bpe_apply",
       "inputView": "kn_docs", "merges": ["t h", "th e"],
       "outputView": "kn_enc"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).isDefined)
    import graft.pipeline.Views
    val nDocs = Views.resolve("kn_docs").count()
    assert(Views.resolve("kn_kanon").columns.contains("at_risk"))
    assert(Views.resolve("kn_supp").count() == nDocs)
    assert(Views.resolve("kn_noisy").columns.contains("noisy_n"))
    assert(Views.resolve("kn_ord").agg(
      org.apache.spark.sql.functions.max("pos")).head.getLong(0)
      == nDocs - 1)
    assert(Views.resolve("kn_enc").count() == nDocs)
    graft.util.Caches.unpersistAll()
  }

  test("multimodal, changed_keys, impute, bpe_fertility as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "mm_docs"},
      {"type": "SqlTransform", "name": "fmt",
       "sql": "SELECT doc_id, text, 'png' AS fmt FROM mm_docs",
       "outputView": "mm_fmt"},
      {"type": "MultimodalTransform", "name": "at", "method": "attach",
       "inputView": "mm_fmt", "formatCol": "fmt", "outputView": "mm_typed"},
      {"type": "MultimodalTransform", "name": "va", "method": "validate",
       "inputView": "mm_typed", "outputView": "mm_valid"},
      {"type": "MultimodalTransform", "name": "fr", "method": "frames",
       "inputView": "mm_typed", "everyN": 3, "outputView": "mm_frames"},
      {"type": "SqlTransform", "name": "nextv",
       "sql": "SELECT doc_id, text, lang, source, n_chars * 2 AS n_chars FROM mm_docs",
       "outputView": "mm_next"},
      {"type": "CdcTransform", "name": "ck", "method": "changed_keys",
       "inputView": "mm_docs", "nextView": "mm_next",
       "keys": ["doc_id"], "outputView": "mm_ck"},
      {"type": "DataQualityTransform", "name": "im", "method": "impute",
       "inputView": "mm_docs", "lhs": ["source"], "rhsCol": "lang",
       "outputView": "mm_imp"},
      {"type": "TextAnalysisTransform", "name": "bf",
       "analysis": "bpe_fertility", "inputView": "mm_docs",
       "merges": ["t h"], "outputView": "mm_fert"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).isDefined)
    import graft.pipeline.Views
    val nDocs = Views.resolve("mm_docs").count()
    assert(Views.resolve("mm_valid").count() == nDocs)
    assert(Views.resolve("mm_valid")
      .where("NOT valid").count() == 0) // every payload carries its magic
    assert(Views.resolve("mm_frames").count() > 0)
    // every doc's n_chars doubled -> every key is an update
    assert(Views.resolve("mm_ck").where("change_type = 'update'").count()
      == nDocs)
    assert(Views.resolve("mm_imp").count() == nDocs)
    assert(Views.resolve("mm_fert").columns.contains("fertility"))
    graft.util.Caches.unpersistAll()
  }

  test("trimmed_mean, debounce, throttle, interval overlap as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "li", "table": "lineitem",
       "outputView": "tc_li"},
      {"type": "ProfileTransform", "name": "tm", "method": "trimmed_mean",
       "inputView": "tc_li", "valueCol": "l_extendedprice",
       "byCols": ["l_returnflag"], "columns": [], "outputView": "tc_tm"},
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "tc_ev"},
      {"type": "BehaviorTransform", "name": "db", "method": "debounce",
       "inputView": "tc_ev", "windowSeconds": 600, "outputView": "tc_db"},
      {"type": "BehaviorTransform", "name": "th", "method": "throttle",
       "inputView": "tc_ev", "windowSeconds": 600, "outputView": "tc_th"},
      {"type": "SqlTransform", "name": "iv",
       "sql": "SELECT user_id, event_id, ts AS s, ts + INTERVAL 10 MINUTES AS e FROM tc_ev WHERE event_type = 'click'",
       "outputView": "tc_iv"},
      {"type": "SqlTransform", "name": "iv2",
       "sql": "SELECT user_id, event_id AS rid, ts AS rs, ts + INTERVAL 30 MINUTES AS re FROM tc_ev WHERE event_type = 'purchase'",
       "outputView": "tc_iv2"},
      {"type": "RangeJoinTransform", "name": "ov", "inputView": "tc_iv",
       "rightView": "tc_iv2", "leftTime": "s", "leftEnd": "e",
       "startCol": "rs", "endCol": "re", "keys": ["user_id"],
       "bucketSeconds": 1800, "outputView": "tc_ov"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).isDefined)
    import graft.pipeline.Views
    assert(Views.resolve("tc_tm").columns.contains("trimmed_mean"))
    val nDeb = Views.resolve("tc_db").count()
    val nThr = Views.resolve("tc_th").count()
    assert(nDeb > 0 && nThr >= nDeb,
      s"throttle ($nThr) keeps at least debounce's rows ($nDeb)")
    assert(Views.resolve("tc_ov").count() > 0)
    graft.util.Caches.unpersistAll()
  }

  test("kmv_diff, top_stratum, corpus_report, pca_cov as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "pw_docs"},
      {"type": "SqlTransform", "name": "half",
       "sql": "SELECT * FROM pw_docs WHERE doc_id % 2 = 0",
       "outputView": "pw_half"},
      {"type": "SketchTransform", "name": "kd", "method": "kmv_diff",
       "inputView": "pw_docs", "otherView": "pw_half",
       "keyCol": "doc_id", "otherKeyCol": "doc_id", "k": 256,
       "outputView": "pw_kd"},
      {"type": "SampleTransform", "name": "ts", "method": "top_stratum",
       "inputView": "pw_docs", "stratumCol": "lang",
       "weightCol": "n_chars", "idCol": "doc_id", "rate": 0.1,
       "outputView": "pw_ts"},
      {"type": "ProfileTransform", "name": "cr", "method": "corpus_report",
       "inputView": "pw_docs", "columns": [], "outputView": "pw_cr"},
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "pw_embs"},
      {"type": "SimilarityTransform", "name": "pc", "method": "pca_cov",
       "inputView": "pw_embs", "inDim": 64, "outputView": "pw_pc"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).isDefined)
    import graft.pipeline.Views
    assert(Views.resolve("pw_kd").head.getAs[Long]("n_only_a") > 0)
    assert(Views.resolve("pw_ts").count() > 0)
    assert(Views.resolve("pw_cr").count() == 1)
    assert(Views.resolve("pw_pc").count() == 64L * 65 / 2)
    graft.util.Caches.unpersistAll()
  }

  test("reconcile and embedding health as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "ord", "table": "orders",
       "outputView": "rc_ord"},
      {"type": "SqlTransform", "name": "half",
       "sql": "SELECT * FROM rc_ord WHERE o_orderkey % 2 = 0",
       "outputView": "rc_half"},
      {"type": "DataQualityTransform", "name": "rc", "method": "reconcile",
       "inputView": "rc_ord", "rightView": "rc_half",
       "lhs": ["o_orderpriority"], "fuzzyFields": {"o_totalprice": 1.0},
       "outputView": "rc_out"},
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "rc_embs"},
      {"type": "SimilarityTransform", "name": "eh", "method": "health",
       "inputView": "rc_embs", "inDim": 64, "outputView": "rc_health"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).isDefined)
    import graft.pipeline.Views
    assert(Views.resolve("rc_out")
      .where("NOT rows_match").count() > 0)
    assert(Views.resolve("rc_health").head.getAs[Long]("n_bad_dim") == 0L)
    graft.util.Caches.unpersistAll()
  }

  test("dedup tunables are settable from config; threshold defaults per method") {
    val conf = """{"stages": [
      {"type": "DedupTransform", "name": "dd", "method": "ngram_pairs",
       "inputView": "a", "outputView": "b", "blockCols": ["lang"],
       "ngramN": 4, "sampleMod": 2, "maxBlock": 100, "lshBands": 6}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages.head.stage.asInstanceOf[DedupTransformStage]
    assert(st.ngramN == 4 && st.sampleMod == 2 && st.maxBlock == 100
      && st.lshBands == 6)
    // no stage-level threshold -> the ngram library default (0.7) applies,
    // not minhash's 0.9 (round-3 ADVICE: a single default silently
    // overrode the per-method documentation)
    assert(st.threshold.isEmpty)
  }

  test("minhash_cc runs end-to-end from a HOCON pipeline") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    // HOCON (not JSON-subset) on purpose: unquoted keys, = separators —
    // the production dedup-cluster path driven entirely from config.
    val conf = """
      stages = [
        { type = Extract, name = docs, table = documents, outputView = cc_docs }
        { type = DedupTransform, name = cc, method = minhash_cc
          inputView = cc_docs, outputView = cc_out
          threshold = 0.9, maxIter = 10 }
      ]"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages(1).stage.asInstanceOf[DedupTransformStage]
    assert(st.method == "minhash_cc" && st.maxIter == 10)
    val out = Runner.run(p).get
    assert(out.columns.toSeq == Seq("doc_id", "component"))
    // mirrors the dedup_minhash_cc gate query at the same sf
    val direct = Dedup.connectedComponents(
      Dedup.minhashPairs(spark.table("cc_docs"), "doc_id", "text",
        64, 16, 4, 3, 0.9))
    assert(datasetEquality(direct, out))
  }

  test("similarity tunables are settable from config; LSH shape defaults per method") {
    val conf = """{"stages": [
      {"type": "SimilarityTransform", "name": "sim", "method": "ann",
       "inputView": "a", "outputView": "b",
       "kmeansIters": 5, "nBits": 32, "bands": 8, "rows": 4}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages.head.stage.asInstanceOf[SimilarityTransformStage]
    assert(st.kmeansIters == 5 && st.nBits.contains(32)
      && st.bands.contains(8) && st.rows.contains(4))
    // absent keys stay None so each method keeps its own default LSH shape
    val conf2 = """{"stages": [
      {"type": "SimilarityTransform", "name": "sim", "method": "neardup_pairs",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Right(p2) = Parser.parse(conf2,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st2 = p2.stages.head.stage.asInstanceOf[SimilarityTransformStage]
    assert(st2.nBits.isEmpty && st2.bands.isEmpty && st2.rows.isEmpty
      && st2.kmeansIters == 2)
  }

  test("sample stage: rates map parses, runs stratified from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "sa_docs"},
      {"type": "SampleTransform", "name": "mix", "method": "stratified",
       "inputView": "sa_docs", "outputView": "sa_mix",
       "stratumCol": "lang", "rates": {"de": "0.0"}, "defaultRate": 1.0}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages(1).stage.asInstanceOf[SampleTransformStage]
    assert(st.rates == Map("de" -> 0.0) && st.defaultRate == 1.0)
    val out = Runner.run(p).get
    assert(out.where(org.apache.spark.sql.functions.col("lang") === "de").isEmpty)
    // a non-numeric rate is an accumulated config error, not an exception
    val bad = conf.replace("\"0.0\"", "\"lots\"")
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(e => e.key.contains("rates") && e.message.contains("lots")))
  }

  test("sample stage: budget keeps 64-bit range (multi-billion-token shards)") {
    val conf = """{"stages": [
      {"type": "SampleTransform", "name": "sh", "method": "shard_by_budget",
       "inputView": "a", "outputView": "b", "budget": 5000000000}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages.head.stage.asInstanceOf[SampleTransformStage]
    assert(st.budget == 5000000000L)
  }

  test("asof-join stage parses and runs against registered views") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "u1", 250L)).toDF("id", "user", "t"), "aj_left")
    Views.register(Seq(("u1", 200L, "hit")).toDF("user", "rt", "tag"), "aj_right")
    val conf = """{"stages": [
      {"type": "AsofJoinTransform", "name": "aj", "inputView": "aj_left",
       "rightView": "aj_right", "outputView": "aj_out",
       "keys": ["user"], "leftTime": "t", "rightTime": "rt"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get.collect()
    assert(out.length == 1 && out(0).getAs[String]("tag") == "hit")
    // a keys-less config is an accumulated error, not a runtime surprise
    val Left(errs) = Parser.parse(conf.replace(""""keys": ["user"],""", ""),
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("keys")))
  }

  test("range-join stage parses and runs against registered views") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Views.register(Seq((1L, "u1", ts("2024-01-01 10:30:00")))
      .toDF("id", "user", "t"), "rj_left")
    Views.register(Seq(("u1", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), "w1"))
      .toDF("user", "s", "e", "w"), "rj_right")
    val conf = """{"stages": [
      {"type": "RangeJoinTransform", "name": "rj", "inputView": "rj_left",
       "rightView": "rj_right", "outputView": "rj_out", "keys": ["user"],
       "leftTime": "t", "startCol": "s", "endCol": "e", "bucketSeconds": 900}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages.head.stage.asInstanceOf[RangeJoinTransformStage]
    assert(st.bucketSeconds == 900L)
    val out = Runner.run(p).get.collect()
    assert(out.length == 1 && out(0).getAs[String]("w") == "w1")
  }

  test("quality-filter analysis parses thresholds and runs") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "the cat sat on a mat today fine day ok"), (2L, "x"))
      .toDF("doc_id", "text"), "qf_docs")
    val conf = """{"stages": [
      {"type": "TextAnalysisTransform", "name": "qf", "analysis": "quality_filter",
       "inputView": "qf_docs", "outputView": "qf_out",
       "minChars": 5, "maxChars": 100, "minWords": 5, "minTtr": 0.5,
       "minStopwordRatio": 0.0, "maxPunctRatio": 0.5}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val st = p.stages.head.stage.asInstanceOf[TextAnalysisTransformStage]
    assert(st.minChars == 5L && st.minTtr == 0.5)
    val out = Runner.run(p).get.collect()
    assert(out.length == 1 && out(0).getAs[Long]("doc_id") == 1L)
  }

  test("salted-join stage and per-stratum-head sampling parse and run") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "a"), (2L, "b")).toDF("k", "lv"), "sj_left")
    Views.register(Seq((1L, "X")).toDF("k", "rv"), "sj_right")
    val conf = """{"stages": [
      {"type": "SaltedJoinTransform", "name": "sj", "inputView": "sj_left",
       "rightView": "sj_right", "outputView": "sj_out",
       "keys": ["k"], "saltFactor": 4},
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "ps_docs"},
      {"type": "SampleTransform", "name": "ps", "method": "per_stratum_head",
       "inputView": "ps_docs", "outputView": "ps_out",
       "stratumCol": "lang", "k": 3}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(p.stages.head.stage.asInstanceOf[SaltedJoinTransformStage].saltFactor == 4)
    Runner.run(p)
    assert(Views.resolve("sj_out").count() == 1)
    val perLang = Views.resolve("ps_out").groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(perLang.values.forall(_ == 3L), s"not 3 per stratum: $perLang")
  }

  test("contamination stage parses and runs against registered views") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    val corpus = Seq((0L, "a b c d e"), (1L, "a b c d e")).toDF("doc_id", "text")
    Views.register(corpus, "ct_corpus")
    Views.register(corpus.where($"doc_id" === 0L), "ct_eval")
    val conf = """{"stages": [
      {"type": "ContaminationTransform", "name": "ct", "inputView": "ct_corpus",
       "evalView": "ct_eval", "outputView": "ct_out"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get.collect()
    assert(out.length == 1 && out(0).getAs[Double]("contamination") == 1.0)
  }

  test("unknown method surfaces as a config error") {
    val conf = """{"stages": [
      {"type": "DedupTransform", "name": "dd", "method": "magic",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("method")))
  }

  test("assemble with missing orderCols is a config-time error") {
    val conf = """{"stages": [
      {"type": "AssembleTransform", "name": "as", "inputView": "v",
       "outputView": "o", "groupCol": "g", "payloadCol": "p"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(e => e.key.contains("orderCols")),
      s"expected an orderCols config error, got $errs")
  }

  test("assemble + encode as config-driven stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    val log = Seq((1L, 10L, 7L, "view", "web"), (2L, 20L, 7L, "click", "app"))
      .toDF("event_id", "ts", "user_id", "event_type", "channel")
    Views.register(log, "ae_log")
    val conf = """{"stages": [
      {"type": "AssembleTransform", "name": "as", "inputView": "ae_log",
       "outputView": "ae_threads", "groupCol": "user_id",
       "orderCols": ["ts", "event_id"], "payloadCol": "event_type",
       "maxTurns": 8},
      {"type": "EncodeTransform", "name": "en", "inputView": "ae_log",
       "outputView": "ae_encoded", "columns": ["channel"]}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    assert(spark.table("ae_threads").head().getAs[String]("convo") == "view click")
    assert(out.columns.contains("channel_id"))
    // app=1, web=2
    assert(out.where($"channel" === "web").head().getAs[Long]("channel_id") == 2L)
  }

  test("passages, upsample, weighted_topk and standardize as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "a b c d", "en"), (2L, "a b x y", "en"))
      .toDF("doc_id", "text", "lang"), "m7_docs")
    Views.register(Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 2.0f)))
      .toDF("vec_id", "embedding"), "m7_embs")
    val conf = """{"stages": [
      {"type": "DedupTransform", "name": "pa", "method": "passages",
       "inputView": "m7_docs", "outputView": "m7_pass", "window": 2},
      {"type": "SampleTransform", "name": "up", "method": "upsample",
       "inputView": "m7_docs", "outputView": "m7_up",
       "rates": {"en": "2.0"}},
      {"type": "SampleTransform", "name": "wt", "method": "weighted_topk",
       "inputView": "m7_docs", "outputView": "m7_wt",
       "weightCol": "doc_id", "k": 1},
      {"type": "SimilarityTransform", "name": "sz", "method": "standardize",
       "inputView": "m7_embs", "outputView": "m7_z"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("m7_pass").count() == 2)      // doc 2 keeps "x y"
    assert(spark.table("m7_up").count() == 4)        // weight 2.0 doubles
    assert(spark.table("m7_wt").count() == 1)
    assert(spark.table("m7_z").columns.contains("z"))
  }

  test("pack, rebalance, top_fraction and token_cap as sample methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq(
      (1L, "en", 600L), (2L, "en", 700L), (3L, "en", 800L),
      (4L, "de", 300L), (5L, "de", 400L), (6L, "de", 500L))
      .toDF("doc_id", "lang", "n_tokens"), "m9_docs")
    val conf = """{"stages": [
      {"type": "SampleTransform", "name": "pk", "method": "pack",
       "inputView": "m9_docs", "outputView": "m9_pack",
       "budget": 1000, "nBuckets": 2},
      {"type": "SampleTransform", "name": "rb", "method": "rebalance",
       "inputView": "m9_docs", "outputView": "m9_rb",
       "stratumCol": "lang", "rates": {"en": "0.5", "de": "0.5"}},
      {"type": "SampleTransform", "name": "tf", "method": "top_fraction",
       "inputView": "m9_docs", "outputView": "m9_top",
       "weightCol": "n_tokens", "rate": 0.5},
      {"type": "SampleTransform", "name": "tc", "method": "token_cap",
       "inputView": "m9_docs", "outputView": "m9_cap",
       "stratumCol": "lang", "budget": 700},
      {"type": "ProfileTransform", "name": "pr", "method": "percentile_rank",
       "inputView": "m9_docs", "outputView": "m9_pct",
       "valueCol": "n_tokens", "idCol": "doc_id", "byCols": ["lang"]}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("m9_pack").count() == 6)      // every doc packed
    assert(spark.table("m9_pack").columns.contains("pack"))
    // de is the binding stratum (fewer tokens at equal weight): kept whole
    assert(spark.table("m9_rb").where($"lang" === "de").count() == 3)
    assert(spark.table("m9_top").count() == 3)       // ceil(0.5 * 6)
    // each lang keeps at least its first draw, under the 700-token cap
    val cap = spark.table("m9_cap")
    assert(cap.select("lang").distinct().count() == 2)
    assert(cap.count() < 6)
    // percentile rank: 3 per lang -> ranks {0, 0.5, 1}
    val pct = spark.table("m9_pct").select("pct_rank")
      .as[Double].collect().sorted.toSeq
    assert(pct == Seq(0.0, 0.0, 0.5, 0.5, 1.0, 1.0))
  }

  test("repetition and tfidf as text-analysis methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "a b a b")).toDF("doc_id", "text"), "rt_docs")
    val conf = """{"stages": [
      {"type": "TextAnalysisTransform", "name": "rep", "analysis": "repetition",
       "inputView": "rt_docs", "outputView": "rt_rep", "ngramN": 2},
      {"type": "TextAnalysisTransform", "name": "tf", "analysis": "tfidf",
       "inputView": "rt_docs", "outputView": "rt_tfidf", "topK": 1}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("rt_rep").head().getAs[Long]("n_ngrams") == 3L)
    assert(spark.table("rt_tfidf").count() == 1L)
  }

  test("quality_score as a config method with ordered weights") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "the cat sat")).toDF("doc_id", "text"), "qs_docs")
    val conf = """{"stages": [
      {"type": "TextAnalysisTransform", "name": "qs", "analysis": "quality_score",
       "inputView": "qs_docs", "outputView": "qs_out",
       "scoreWeights": {"ttr": "2.0", "stopword_ratio": "3.0"}, "bias": -1.0}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val r = Runner.run(p).get.head()
    assert(math.abs(r.getAs[Double]("score") - 0.880797) < 1e-6)
    assert(r.getAs[Boolean]("keep"))
  }

  test("retrieval: index and bm25 as config-driven stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "rt_docs"},
      {"type": "RetrievalTransform", "name": "ix", "method": "index",
       "inputView": "rt_docs", "outputView": "rt_index", "minDf": 5},
      {"type": "RetrievalTransform", "name": "srch", "method": "bm25",
       "inputView": "rt_docs", "outputView": "rt_hits",
       "queryTerms": ["join", "hash"], "k": 7}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    assert(out.count() == 7)
    assert(out.columns.toSeq == Seq("rnk", "doc_id", "n_hit", "score_fp", "score"))
    assert(spark.table("rt_index").columns.contains("idf"))
  }

  test("bm25 without queryTerms is a config-time error") {
    val conf = """{"stages": [
      {"type": "RetrievalTransform", "name": "bad", "method": "bm25",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("queryTerms")))
  }

  test("pii stats and scrub as config-driven stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq(
      (1L, "mail bob@ex.io now"), (2L, "clean")
    ).toDF("doc_id", "text"), "pi_docs")
    val conf = """{"stages": [
      {"type": "PiiTransform", "name": "st", "method": "stats",
       "inputView": "pi_docs", "outputView": "pi_stats"},
      {"type": "PiiTransform", "name": "sc", "method": "scrub",
       "inputView": "pi_docs", "outputView": "pi_clean"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val stats = spark.table("pi_stats").orderBy("doc_id")
      .select("n_emails").as[Long].collect().toSeq
    assert(stats == Seq(1L, 0L))
    val clean = spark.table("pi_clean").orderBy("doc_id")
      .select("text").as[String].collect().head
    assert(clean == "mail <EMAIL> now")
  }

  test("graph pagerank as a config-driven stage with renamed edge columns") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq(("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("from_node", "to_node"), "gr_edges")
    val conf = """{"stages": [
      {"type": "GraphTransform", "name": "pr", "inputView": "gr_edges",
       "outputView": "gr_ranks", "srcCol": "from_node", "dstCol": "to_node",
       "iters": 2}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get.orderBy("node")
    assert(out.count() == 3)
    val ranks = out.select("node", "rank_fp").as[(String, Long)].collect().toMap
    assert(ranks("c") > ranks("b") && ranks("b") > ranks("a"))
  }

  test("edit dedup, quantize and triangles run as config-driven stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "the quick brown fix", "en"),
      (3L, "unrelated text entirely", "en")
    ).toDF("doc_id", "text", "lang"), "n8_docs")
    Views.register(Seq(
      (0L, Array(0.0f, 1.0f)), (1L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding"), "n8_vecs")
    Views.register(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("s", "d"), "n8_edges")
    val conf = """{"stages": [
      {"type": "DedupTransform", "name": "ed", "method": "edit_pairs",
       "inputView": "n8_docs", "outputView": "n8_pairs",
       "blockCols": ["lang"], "maxDist": 2, "bucketWidth": 10},
      {"type": "SimilarityTransform", "name": "qz", "method": "quantize",
       "inputView": "n8_vecs", "outputView": "n8_codes", "levels": 16},
      {"type": "GraphTransform", "name": "tr", "method": "triangles",
       "inputView": "n8_edges", "outputView": "n8_tris",
       "srcCol": "s", "dstCol": "d"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val pairs = spark.table("n8_pairs")
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 1L)))
    val codes = spark.table("n8_codes").orderBy("vec_id")
      .select("q").as[Seq[Long]].collect()
    assert(codes(0) == Seq(0L, 15L) && codes(1) == Seq(15L, 0L))
    val tris = spark.table("n8_tris")
      .select("node", "n_tri").as[(Long, Long)].collect().toMap
    assert(tris == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("bloom join and rrf fusion run as config-driven stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register((1L to 100L).map(i => (i, i % 7)).toDF("k", "grp"),
      "n8_fact")
    Views.register(Seq(Tuple1(3L), Tuple1(42L)).toDF("dk"), "n8_dim")
    Views.register(Seq((10L, 1L), (20L, 2L)).toDF("doc_id", "rnk"), "n8_lex")
    Views.register(Seq((20L, 1L), (30L, 2L)).toDF("doc_id", "rnk"), "n8_sem")
    val conf = """{"stages": [
      {"type": "BloomJoinTransform", "name": "bj", "inputView": "n8_fact",
       "rightView": "n8_dim", "outputView": "n8_hits",
       "leftKey": "k", "rightKey": "dk", "mBits": 4096, "k": 3},
      {"type": "RetrievalTransform", "name": "rf", "method": "rrf",
       "inputView": "n8_lex", "rankViews": ["n8_lex", "n8_sem"],
       "outputView": "n8_fused", "k": 5}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("n8_hits").select("k").as[Long].collect().toSet
      == Set(3L, 42L))
    val fused = spark.table("n8_fused").orderBy("rnk")
      .select("doc_id").as[Long].collect().toSeq
    assert(fused.head == 20L && fused.toSet == Set(10L, 20L, 30L))
  }

  test("rrf without rankViews is a config-time error") {
    val conf = """{"stages": [
      {"type": "RetrievalTransform", "name": "bad", "method": "rrf",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("rankViews")))
  }

  test("compact-files stage rewrites slivers and reports the file count") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("n8_compact").toString
    (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(20).write.parquet(s"$tmp/in")
    val conf = s"""{"stages": [
      {"type": "CompactFiles", "name": "cp", "inputDir": "$tmp/in",
       "outputDir": "$tmp/out", "outputView": "n8_compacted",
       "targetBytes": 67108864}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    assert(out.count() == 500L)
    assert(Maintenance.dataFiles(spark, s"$tmp/out").size < 20)
  }

  test("profile methods bucketize and winsorize parse tunables and run") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register((1 to 100).map(_.toDouble).toDF("value"), "pf_vals")
    val conf = """{"stages": [
      {"type": "ProfileTransform", "name": "bq", "method": "bucketize",
       "inputView": "pf_vals", "outputView": "pf_bins", "nBins": 5},
      {"type": "ProfileTransform", "name": "wz", "method": "winsorize",
       "inputView": "pf_vals", "outputView": "pf_win", "pLo": 0.1, "pHi": 0.9}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val bins = spark.table("pf_bins").select("bin").distinct().count()
    assert(bins == 5)
    val w = spark.table("pf_win")
      .agg(org.apache.spark.sql.functions.min("winsorized"),
        org.apache.spark.sql.functions.max("winsorized"))
      .as[(Double, Double)].collect().head
    assert(w == ((10.0, 90.0)))
  }

  test("sketch, zorder and robust-outlier stages run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "li", "table": "lineitem",
       "outputView": "sk_li"},
      {"type": "SketchTransform", "name": "hll", "method": "hll",
       "inputView": "sk_li", "outputView": "sk_hll",
       "keyCol": "l_partkey", "groupCols": ["l_returnflag"], "m": 256},
      {"type": "SketchTransform", "name": "cms", "method": "cms",
       "inputView": "sk_li", "outputView": "sk_cms",
       "keyCol": "l_suppkey", "depth": 3, "width": 64, "topN": 5},
      {"type": "SqlTransform", "name": "ids",
       "sql": "SELECT l_partkey AS x, l_suppkey AS y, l_orderkey*10 + l_linenumber AS id, l_extendedprice AS value, l_returnflag FROM sk_li",
       "outputView": "sk_ids"},
      {"type": "ZorderTransform", "name": "zo", "inputView": "sk_ids",
       "outputView": "sk_blocks", "xCol": "x", "yCol": "y", "idCol": "id",
       "blockSize": 500, "bits": 12},
      {"type": "ProfileTransform", "name": "mad", "method": "outliers_mad",
       "inputView": "sk_ids", "outputView": "sk_mad",
       "valueCol": "value", "byCols": ["l_returnflag"], "madK": 3.0}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("sk_hll").columns.toSeq ==
      Seq("l_returnflag", "exact_distinct", "hll_estimate"))
    assert(spark.table("sk_cms").count() == 5)
    val blocks = spark.table("sk_blocks")
    assert(blocks.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head.getLong(0) == spark.table("sk_ids").count())
    assert(spark.table("sk_mad").columns.contains("robust_z"))
    graft.util.Caches.unpersistAll()
  }

  test("zorder stage accepts an N-column cols list (ZORDER BY parity)") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register((0 until 512).map { i =>
      (i.toLong, (i % 8).toLong, ((i / 8) % 8).toLong, (i / 64).toLong)
    }.toDF("id", "x", "y", "w"), "z3_in")
    val conf = """{"stages": [
      {"type": "ZorderTransform", "name": "z3", "inputView": "z3_in",
       "outputView": "z3_manifest", "cols": ["x", "y", "w"],
       "idCol": "id", "blockSize": 64, "bits": 3}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val man = spark.table("z3_manifest")
    assert(man.columns.toSeq == Seq("block_id", "n_rows",
      "min_x", "max_x", "min_y", "max_y", "min_w", "max_w"))
    assert(man.count() == 8)
    graft.util.Caches.unpersistAll()
    // a single-column cols list is a parse-time error
    val bad = """{"stages": [
      {"type": "ZorderTransform", "name": "z1", "inputView": "a",
       "outputView": "b", "cols": ["x"], "idCol": "id"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("cols")))
  }

  test("cdc upsert and scd2 run from config; upsert without changesView fails at parse") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "cdc_base")
    Views.register(Seq((2L, "b2", 1L, "U"), (3L, "c", 1L, "U"))
      .toDF("id", "name", "version", "op"), "cdc_changes")
    Views.register(Seq((1L, 10L, "x"), (1L, 20L, "y"))
      .toDF("id", "ts", "state"), "cdc_log")
    val conf = """{"stages": [
      {"type": "CdcTransform", "name": "up", "method": "upsert",
       "inputView": "cdc_base", "changesView": "cdc_changes",
       "keyCol": "id", "outputView": "cdc_merged"},
      {"type": "CdcTransform", "name": "hist", "method": "scd2",
       "inputView": "cdc_log", "keyCol": "id", "tsCol": "ts",
       "stateCol": "state", "outputView": "cdc_hist"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("cdc_merged").count() == 3)
    assert(spark.table("cdc_hist").where($"is_current").count() == 1)

    val bad = """{"stages": [
      {"type": "CdcTransform", "name": "up", "method": "upsert",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("changesView")))
  }

  test("cdc derive, holt and blocklist stages run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "dv_old")
    Views.register(Seq((2L, "b2"), (3L, "c")).toDF("id", "name"), "dv_new")
    Views.register(Seq(
      (1L, 10L, java.sql.Timestamp.valueOf("2026-01-01 00:10:00"), 4.0),
      (2L, 10L, java.sql.Timestamp.valueOf("2026-01-01 00:20:00"), 8.0)
    ).toDF("event_id", "user_id", "ts", "value"), "dv_events")
    Views.register(Seq((1L, "good bad text")).toDF("doc_id", "text"), "dv_docs")
    val conf = """{"stages": [
      {"type": "CdcTransform", "name": "df", "method": "derive",
       "inputView": "dv_old", "nextView": "dv_new", "keyCol": "id",
       "outputView": "dv_feed"},
      {"type": "GapfillTransform", "name": "ho", "method": "holt",
       "inputView": "dv_events", "keyCol": "user_id",
       "outputView": "dv_holt", "alpha": 0.5, "beta": 0.25},
      {"type": "TextAnalysisTransform", "name": "bl", "analysis": "blocklist",
       "inputView": "dv_docs", "outputView": "dv_hits",
       "terms": ["bad", "ugly"]}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    // derive: key 1 D, key 2 U, key 3 I
    assert(spark.table("dv_feed").count() == 3)
    assert(spark.table("dv_holt").columns.contains("forecast"))
    assert(spark.table("dv_hits").head().getLong(1) == 1L)

    val bad = """{"stages": [
      {"type": "CdcTransform", "name": "df", "method": "derive",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("nextView")))
  }

  test("outliers without byCols and hll without groupCols fail at parse") {
    val bad = """{"stages": [
      {"type": "ProfileTransform", "name": "m", "method": "outliers_mad",
       "inputView": "a", "outputView": "b", "valueCol": "v"},
      {"type": "SketchTransform", "name": "h", "method": "hll",
       "inputView": "a", "outputView": "c", "keyCol": "k"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("byCols")))
    assert(errs.exists(_.key.contains("groupCols")))
  }

  test("gapfill, correlation and negative-sample stages run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq(
      ("a", java.sql.Timestamp.valueOf("2026-01-01 00:10:00"), 1.0, 2.0),
      ("a", java.sql.Timestamp.valueOf("2026-01-01 02:10:00"), 2.0, 4.0),
      ("b", java.sql.Timestamp.valueOf("2026-01-01 01:10:00"), 3.0, 6.0)
    ).toDF("k", "t", "x", "y"), "ts_in")
    val conf = """{"stages": [
      {"type": "GapfillTransform", "name": "gf", "inputView": "ts_in",
       "outputView": "ts_dense", "tsCol": "t", "keyCol": "k"},
      {"type": "ProfileTransform", "name": "pc", "method": "correlation",
       "inputView": "ts_in", "outputView": "ts_corr",
       "xCol": "x", "yCol": "y", "byCols": ["k"]},
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "ns_docs"},
      {"type": "SampleTransform", "name": "ns", "method": "negative",
       "inputView": "ns_docs", "outputView": "ns_out",
       "idCol": "doc_id", "k": 2, "nBuckets": 16}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("ts_dense").count() == 6) // 2 keys x 3 hours
    assert(spark.table("ts_corr").where($"k" === "a")
      .head.getAs[Double]("corr") == 1.0)
    assert(spark.table("ns_out").columns.toSeq ==
      Seq("anchor_id", "i", "neg_id"))
  }

  test("kcore, temperature, semantic_dedup and hll_intersect run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    // K4 plus a 4-5-6 tail: the 3-core is exactly K4
    Views.register(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d"), "n9_edges")
    Views.register((0 until 60).map(i =>
        (i.toLong, if (i < 50) "big" else "small", 100L))
      .toDF("doc_id", "lang", "n_tokens"), "n9_docs")
    Views.register(Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0.9f, 0.1f, 0f))
    ).toDF("vec_id", "embedding"), "n9_vecs")
    Views.register((0 until 300).map(i => ("g", s"id$i")).toDF("grp", "k"),
      "n9_a")
    Views.register((200 until 500).map(i => ("g", s"id$i")).toDF("grp", "k"),
      "n9_b")
    Views.register((1L to 3L).flatMap(b =>
        (b * 10 until b * 10 + 20).map(k => (b, s"u$k"))).toDF("day", "u"),
      "n9_days")
    val conf = """{"stages": [
      {"type": "GraphTransform", "name": "kc", "method": "kcore",
       "inputView": "n9_edges", "outputView": "n9_core",
       "srcCol": "s", "dstCol": "d", "coreK": 3, "iters": 3},
      {"type": "SampleTransform", "name": "tm", "method": "temperature",
       "inputView": "n9_docs", "outputView": "n9_mix",
       "stratumCol": "lang", "idCol": "doc_id", "tokenCol": "n_tokens",
       "rate": 0.5},
      {"type": "SimilarityTransform", "name": "sd", "method": "semantic_dedup",
       "inputView": "n9_vecs", "outputView": "n9_kept",
       "threshold": 0.9, "centroidEvery": 2, "kmeansIters": 1},
      {"type": "SketchTransform", "name": "hi", "method": "hll_intersect",
       "inputView": "n9_a", "otherView": "n9_b", "outputView": "n9_over",
       "keyCol": "k", "groupCols": ["grp"]},
      {"type": "SketchTransform", "name": "hr", "method": "hll_rolling",
       "inputView": "n9_days", "outputView": "n9_roll",
       "keyCol": "u", "bucketCol": "day", "window": 2}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val core = spark.table("n9_core")
      .select("node", "degree").as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val mix = spark.table("n9_mix").groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(mix("small") == 10L, s"binding stratum keeps all: $mix")
    assert(mix("big") < 50L && mix("big") > 5L, s"big must downsample: $mix")
    val kept = spark.table("n9_kept")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(kept == Map(0L -> 0L, 2L -> 2L))
    // true overlap 100 of 300/300; at these cardinalities HLL sits in the
    // near-exact linear-counting regime
    val over = spark.table("n9_over")
      .select("hll_intersection").as[Double].head()
    assert(over > 50.0 && over < 150.0, s"overlap estimate $over")
    // day buckets hold 20 keys each, consecutive days share 10: the
    // 2-day window over days {1,2} holds 30 distinct (near-exact regime)
    val roll = spark.table("n9_roll")
      .select("bucket", "hll_estimate").as[(Long, Double)].collect().toMap
    assert(roll.keySet == Set(1L, 2L, 3L))
    assert(math.abs(roll(2L) - 30.0) < 4.0, s"rolling estimate $roll")
    graft.util.Caches.unpersistAll()
  }

  test("prefix_pairs, jw_pairs and lm_score run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register(Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon zetas", "en"),
      (3L, "one two three four five six seven", "en"),
      (4L, "jonathan smith", "en"),
      (5L, "jonathon smith", "en")
    ).toDF("doc_id", "text", "lang"), "n9_texts")
    Views.register((0 until 100).map(i => s"id$i").toDF("k"), "n9_ka")
    Views.register((50 until 150).map(i => s"id$i").toDF("k"), "n9_kb")
    val conf = """{"stages": [
      {"type": "DedupTransform", "name": "pp", "method": "prefix_pairs",
       "inputView": "n9_texts", "outputView": "n9_pp",
       "ngramN": 4, "sampleMod": 1, "threshold": 0.5},
      {"type": "DedupTransform", "name": "jw", "method": "jw_pairs",
       "inputView": "n9_texts", "outputView": "n9_jw",
       "blockCols": ["lang"], "threshold": 0.9, "bucketWidth": 10},
      {"type": "TextAnalysisTransform", "name": "lm", "analysis": "lm_score",
       "inputView": "n9_texts", "outputView": "n9_lm",
       "groupCols": ["lang"]},
      {"type": "TextAnalysisTransform", "name": "ds", "analysis": "dup_spans",
       "inputView": "n9_texts", "outputView": "n9_ds", "ngramN": 3},
      {"type": "TextAnalysisTransform", "name": "kn", "analysis": "keyness",
       "inputView": "n9_texts", "outputView": "n9_kn", "topK": 3},
      {"type": "SketchTransform", "name": "kj", "method": "kmv_jaccard",
       "inputView": "n9_ka", "otherView": "n9_kb", "outputView": "n9_kj",
       "keyCol": "k", "k": 256}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val pp = spark.table("n9_pp")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pp.contains((1L, 2L)) && !pp.exists(p => p._1 == 3L || p._2 == 3L),
      s"prefix pairs: $pp")
    val jw = spark.table("n9_jw")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jw.contains((4L, 5L)), s"jw pairs: $jw")
    val lm = spark.table("n9_lm")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(lm.keySet == Set(1L, 2L, 3L, 4L, 5L) && lm.values.forall(_ >= 0))
    // docs 1-2 share word 3-grams; doc 3 is unique (dup_frac 0)
    val ds = spark.table("n9_ds")
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
    assert(ds(1L) > 0 && ds(2L) > 0 && ds(3L) == 0.0, s"dup spans: $ds")
    val kn = spark.table("n9_kn")
    assert(kn.count() <= 3 && kn.where($"z".isNull).isEmpty)
    // |A∩B| = 50, |A∪B| = 150, k >= union -> exact 1/3
    val kj = spark.table("n9_kj")
      .select("n_union", "n_match", "kmv_jaccard")
      .as[(Long, Long, Double)].head()
    assert(kj == ((150L, 50L, 0.333333)), s"kmv jaccard: $kj")
    graft.util.Caches.unpersistAll()
  }

  test("zorder write method materializes the skipping index from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    Views.register((0 until 64).map { i =>
      (i.toLong, (i % 8).toLong, (i / 8).toLong) }.toDF("id", "x", "y"),
      "zw_in")
    val dir = java.nio.file.Files.createTempDirectory("graft_zw").toString
    try {
      val conf = s"""{"stages": [
        {"type": "ZorderTransform", "name": "zw", "method": "write",
         "inputView": "zw_in", "outputView": "zw_manifest",
         "xCol": "x", "yCol": "y", "idCol": "id",
         "outputDir": "$dir", "blockSize": 16, "bits": 3,
         "params": {"confirm.truncate": "true"}}
      ]}"""
      val Right(p) = Parser.parse(conf,
        Map("default" -> new ParquetConnector(sf001))): @unchecked
      Runner.run(p).get
      assert(spark.table("zw_manifest").count() == 4)
      assert(Layout.prunedRead(spark, dir, 0, 3, 0, 3).count() == 16)
    } finally {
      graft.util.Caches.unpersistAll()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    // write without outputDir is a parse-time error
    val bad = """{"stages": [
      {"type": "ZorderTransform", "name": "zw", "method": "write",
       "inputView": "a", "outputView": "b",
       "xCol": "x", "yCol": "y", "idCol": "id"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("outputDir")))
  }

  test("similarity project method parses dims and emits long format") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "e", "table": "embeddings",
       "outputView": "pj_embs"},
      {"type": "SimilarityTransform", "name": "pj", "method": "project",
       "inputView": "pj_embs", "outputView": "pj_out",
       "inDim": 64, "outDim": 8}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val out = spark.table("pj_out")
    assert(out.columns.toSeq == Seq("vec_id", "j", "z"))
    assert(out.groupBy("vec_id").count().select("count").distinct()
      .head.getLong(0) == 8)
  }

  test("behavior stages: funnel, transitions, attribution from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "bh_events"},
      {"type": "SqlTransform", "name": "cast_ts",
       "sql": "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM bh_events",
       "outputView": "bh_ev"},
      {"type": "BehaviorTransform", "name": "fn", "method": "funnel",
       "inputView": "bh_ev", "outputView": "bh_funnel",
       "steps": ["view", "click", "purchase"]},
      {"type": "BehaviorTransform", "name": "tr", "method": "transitions",
       "inputView": "bh_ev", "outputView": "bh_trans"},
      {"type": "BehaviorTransform", "name": "at", "method": "attribution",
       "inputView": "bh_ev", "outputView": "bh_attr",
       "windowSeconds": 3600}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("bh_funnel").count() == 3)
    assert(spark.table("bh_trans").columns.contains("p"))
    assert(spark.table("bh_attr").columns.toSeq ==
      Seq("touch_id", "n_conversions", "credit_fp", "credit"))
    graft.util.Caches.unpersistAll()
  }

  test("behavior funnel config rejects a single-step funnel at parse") {
    val bad = """{"stages": [
      {"type": "BehaviorTransform", "name": "fn", "method": "funnel",
       "inputView": "x", "outputView": "y", "steps": ["view"]}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("steps")))
  }

  test("data-quality stages: rules report and join-skew from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "li", "table": "lineitem",
       "outputView": "dq_li"},
      {"type": "DataQualityTransform", "name": "rules", "method": "rules",
       "inputView": "dq_li", "outputView": "dq_report",
       "rules": {"qty_positive": "l_quantity > 0",
                 "discount_sane": "l_discount BETWEEN 0 AND 0.1"}},
      {"type": "DataQualityTransform", "name": "skew", "method": "join_skew",
       "inputView": "dq_li", "rightView": "dq_li",
       "leftKey": "l_partkey", "rightKey": "l_partkey", "topK": 5,
       "outputView": "dq_skew"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val report = spark.table("dq_report").collect()
    assert(report.length == 2 && report.forall(_.getLong(1) == 0L))
    assert(spark.table("dq_skew").count() == 5)
  }

  test("agg-state stages: shard states merge to the direct aggregate") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "as_events"},
      {"type": "SqlTransform", "name": "a",
       "sql": "SELECT * FROM as_events WHERE event_id % 2 = 0",
       "outputView": "as_a"},
      {"type": "SqlTransform", "name": "b",
       "sql": "SELECT * FROM as_events WHERE event_id % 2 = 1",
       "outputView": "as_b"},
      {"type": "AggStateTransform", "name": "sa", "method": "state",
       "inputView": "as_a", "outputView": "as_sa",
       "keys": ["event_type"], "sumCols": ["value"]},
      {"type": "AggStateTransform", "name": "sb", "method": "state",
       "inputView": "as_b", "outputView": "as_sb",
       "keys": ["event_type"], "sumCols": ["value"]},
      {"type": "AggStateTransform", "name": "m", "method": "merge",
       "inputView": "as_sa", "stateViews": ["as_sa", "as_sb"],
       "keys": ["event_type"], "outputView": "as_merged"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val merged = spark.table("as_merged").orderBy("event_type").collect()
    val direct = Maintenance.aggState(spark.table("as_events"),
      Seq("event_type"), Seq("value")).orderBy("event_type").collect()
    assert(merged.toSeq == direct.toSeq)
  }

  test("retrieval rank_eval stage requires a qrels view at parse") {
    val bad = """{"stages": [
      {"type": "RetrievalTransform", "name": "ev", "method": "rank_eval",
       "inputView": "run", "outputView": "metrics"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("qrelsView")))
  }

  test("graph link_pred stage runs from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "li", "table": "lineitem",
       "outputView": "lp_li"},
      {"type": "GraphTransform", "name": "edges", "method": "cooccur_edges",
       "inputView": "lp_li", "groupCol": "l_orderkey", "nodeCol": "l_partkey",
       "maxGroup": 10, "outputView": "lp_edges"},
      {"type": "GraphTransform", "name": "lp", "method": "link_pred",
       "inputView": "lp_edges", "srcCol": "a", "dstCol": "b",
       "maxGroup": 256, "coreK": 2, "outputView": "lp_out"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val out = spark.table("lp_out")
    assert(out.columns.toSeq == Seq("node_a", "node_b", "n_common",
      "deg_a", "deg_b", "jaccard"))
    assert(out.count() > 0)
    graft.util.Caches.unpersistAll()
  }

  test("drift stages: ks and tv between snapshot views from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "o", "table": "orders",
       "outputView": "dr_orders"},
      {"type": "SqlTransform", "name": "before",
       "sql": "SELECT * FROM dr_orders WHERE o_orderkey % 2 = 0",
       "outputView": "dr_before"},
      {"type": "SqlTransform", "name": "after",
       "sql": "SELECT * FROM dr_orders WHERE o_orderkey % 2 = 1",
       "outputView": "dr_after"},
      {"type": "DriftTransform", "name": "ks", "method": "ks",
       "inputView": "dr_before", "rightView": "dr_after",
       "valueCol": "o_totalprice", "outputView": "dr_ks"},
      {"type": "DriftTransform", "name": "tv", "method": "tv",
       "inputView": "dr_before", "rightView": "dr_after",
       "catCol": "o_orderstatus", "outputView": "dr_tv"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val ks = spark.table("dr_ks").collect().head
    assert(ks.getAs[Long]("n_a") > 0 && ks.getAs[Long]("n_b") > 0)
    assert(ks.getAs[Double]("d") >= 0.0 && ks.getAs[Double]("d") <= 1.0)
    assert(spark.table("dr_tv").count() > 0)
    graft.util.Caches.unpersistAll()
  }

  test("drift bh and profile linear_fit stages run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Execute", "name": "mk",
       "sql": "CREATE OR REPLACE TEMPORARY VIEW bh_p AS SELECT * FROM VALUES (1, 0.001), (2, 0.002), (3, 0.5) AS t(id, p)"},
      {"type": "DriftTransform", "name": "bh", "method": "bh",
       "inputView": "bh_p", "idCol": "id", "pCol": "p", "alpha": 0.05,
       "outputView": "bh_out"},
      {"type": "Extract", "name": "li", "table": "lineitem",
       "outputView": "lf_li"},
      {"type": "ProfileTransform", "name": "fit", "method": "linear_fit",
       "inputView": "lf_li", "xCol": "l_quantity",
       "yCol": "l_extendedprice", "byCols": ["l_returnflag"],
       "outputView": "lf_out"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val bh = spark.table("bh_out").orderBy("id").collect()
    assert(bh.map(_.getAs[Boolean]("reject")).toSeq ==
      Seq(true, true, false))
    val fit = spark.table("lf_out").collect()
    assert(fit.nonEmpty && fit.forall(r =>
      !r.isNullAt(r.fieldIndex("slope"))))
    graft.util.Caches.unpersistAll()
  }

  test("round-14/16 statistics run from config: kruskal/anova/levene " +
      "(k-arm), welch/psi/jsd/wasserstein/grouped/bootstrap_lift " +
      "(two-view), fisher/proportions (single-view)") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "o", "table": "orders",
       "outputView": "ds_orders"},
      {"type": "DriftTransform", "name": "kw", "method": "kruskal",
       "inputView": "ds_orders", "groupCol": "o_orderpriority",
       "valueCol": "o_totalprice", "outputView": "ds_kw"},
      {"type": "DriftTransform", "name": "an", "method": "anova",
       "inputView": "ds_orders", "groupCol": "o_orderpriority",
       "valueCol": "o_totalprice", "outputView": "ds_an"},
      {"type": "DriftTransform", "name": "lv", "method": "levene",
       "inputView": "ds_orders", "groupCol": "o_orderpriority",
       "valueCol": "o_totalprice", "outputView": "ds_lv"},
      {"type": "SqlTransform", "name": "before",
       "sql": "SELECT * FROM ds_orders WHERE o_orderkey % 2 = 0",
       "outputView": "ds_before"},
      {"type": "SqlTransform", "name": "after",
       "sql": "SELECT * FROM ds_orders WHERE o_orderkey % 2 = 1",
       "outputView": "ds_after"},
      {"type": "DriftTransform", "name": "wt", "method": "welch",
       "inputView": "ds_before", "rightView": "ds_after",
       "valueCol": "o_totalprice", "outputView": "ds_wt"},
      {"type": "DriftTransform", "name": "ps", "method": "psi",
       "inputView": "ds_before", "rightView": "ds_after",
       "valueCol": "o_totalprice", "nBins": 5, "outputView": "ds_ps"},
      {"type": "DriftTransform", "name": "js", "method": "jsd",
       "inputView": "ds_before", "rightView": "ds_after",
       "catCol": "o_orderstatus", "outputView": "ds_js"},
      {"type": "DriftTransform", "name": "w1", "method": "wasserstein",
       "inputView": "ds_before", "rightView": "ds_after",
       "valueCol": "o_totalprice", "outputView": "ds_w1"},
      {"type": "DriftTransform", "name": "kg", "method": "ks_grouped",
       "inputView": "ds_before", "rightView": "ds_after",
       "groupCol": "o_orderpriority", "valueCol": "o_totalprice",
       "outputView": "ds_kg"},
      {"type": "DriftTransform", "name": "wg",
       "method": "wasserstein_grouped",
       "inputView": "ds_before", "rightView": "ds_after",
       "groupCol": "o_orderpriority", "valueCol": "o_totalprice",
       "outputView": "ds_wg"},
      {"type": "DriftTransform", "name": "bl", "method": "bootstrap_lift",
       "inputView": "ds_before", "rightView": "ds_after",
       "idCol": "o_orderkey", "valueCol": "o_totalprice",
       "nPerms": 50, "outputView": "ds_bl"},
      {"type": "SqlTransform", "name": "fp",
       "sql": "SELECT (o_orderkey % 3 = 0) AS x, (o_custkey % 2 = 0) AS y, 'g' || CAST(o_orderkey % 2 AS STRING) AS arm, (o_totalprice > 100000) AS success, (o_orderkey DIV 2) % 4 AS look FROM ds_orders",
       "outputView": "ds_fp"},
      {"type": "DriftTransform", "name": "sq", "method": "sequential",
       "inputView": "ds_fp", "lookCol": "look", "groupCol": "arm",
       "successCol": "success", "armA": "g0", "armB": "g1",
       "outputView": "ds_sq"},
      {"type": "SqlTransform", "name": "wsg",
       "sql": "SELECT 'g' || CAST(o_orderkey % 2 AS STRING) AS arm, o_orderpriority AS seg, o_totalprice AS v FROM ds_orders",
       "outputView": "ds_wsg_in"},
      {"type": "DriftTransform", "name": "ws", "method": "welch_segments",
       "inputView": "ds_wsg_in", "segCol": "seg", "groupCol": "arm",
       "valueCol": "v", "armA": "g0", "armB": "g1",
       "outputView": "ds_ws"},
      {"type": "DriftTransform", "name": "fi", "method": "fisher",
       "inputView": "ds_fp", "catCol": "x", "labelCol": "y",
       "outputView": "ds_fi"},
      {"type": "DriftTransform", "name": "pr", "method": "proportions",
       "inputView": "ds_fp", "groupCol": "arm", "successCol": "success",
       "armA": "g0", "armB": "g1", "outputView": "ds_pr"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    // k-arm family: 5 priority arms, shared statistic repeated per row
    assert(spark.table("ds_kw").count() == 5)
    val an = spark.table("ds_an").collect()
    assert(an.length == 5 && an.forall(r =>
      r.getAs[Double]("f") >= 0.0 && r.getAs[Long]("dof1") == 4L))
    assert(spark.table("ds_lv").count() == 5)
    // welch: one row, finite t, dof between min(na,nb)-1 and na+nb-2
    val wt = spark.table("ds_wt").collect().head
    assert(!wt.getAs[Double]("t").isNaN && wt.getAs[Double]("dof") > 1.0)
    // psi: nBins rows, non-negative contributions
    val ps = spark.table("ds_ps").collect()
    assert(ps.length == 5)
    // jsd in [0, ln 2]; wasserstein >= 0
    val js = spark.table("ds_js").collect().head
    assert(js.getAs[Double]("jsd") >= 0.0 &&
      js.getAs[Double]("jsd") <= math.log(2) + 1e-9)
    assert(spark.table("ds_w1").collect().head
      .getAs[Double]("w1") >= 0.0)
    // grouped drift: one row per priority arm present on both sides
    assert(spark.table("ds_kg").count() == 5)
    assert(spark.table("ds_wg").count() == 5)
    // bootstrap lift: one row, CI brackets the point lift loosely
    val bl = spark.table("ds_bl").collect().head
    assert(bl.getAs[Long]("n_boot") == 50L)
    assert(bl.getAs[Double]("ci_lo") <= bl.getAs[Double]("ci_hi"))
    // fisher: exact p in (0, 1]; proportions: both arms counted
    val fi = spark.table("ds_fi").collect().head
    val fp = fi.getAs[Double]("p_value")
    assert(fp > 0.0 && fp <= 1.0)
    val pr = spark.table("ds_pr").collect().head
    assert(pr.getAs[Long]("n_a") > 0 && pr.getAs[Long]("n_b") > 0)
    // sequential: one row per look, non-increasing always-valid p
    val sq = spark.table("ds_sq").orderBy("look").collect()
    assert(sq.length == 4)
    val sp = sq.map(_.getAs[Double]("p_seq")).toSeq
    assert(sp == sp.sorted.reverse)
    // welch_segments: one row per priority arm, p_t in (0, 1]
    val ws = spark.table("ds_ws").collect()
    assert(ws.length == 5 && ws.forall { r =>
      val p = r.getAs[Double]("p_t"); p > 0.0 && p <= 1.0 })
    graft.util.Caches.unpersistAll()
  }

  test("round-18 statistics run from config: ratio_delta (single-view), " +
      "tost and power (two-view); tost without a margin is a parse error") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Execute", "name": "mk",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_units AS SELECT 'g' || CAST(id % 2 AS STRING) AS arm, CAST(3 + id % 7 AS DOUBLE) + CAST(id % 3 AS DOUBLE) AS num, CAST(1 + id % 5 AS DOUBLE) AS den FROM range(400)"},
      {"type": "DriftTransform", "name": "rd", "method": "ratio_delta",
       "inputView": "r18_units", "groupCol": "arm", "numCol": "num",
       "denCol": "den", "armA": "g0", "armB": "g1",
       "outputView": "r18_rd"},
      {"type": "Execute", "name": "mkab",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_a AS SELECT CAST(10 + id % 9 AS DOUBLE) AS value FROM range(120)"},
      {"type": "Execute", "name": "mkb",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_b AS SELECT CAST(11 + id % 8 AS DOUBLE) AS value FROM range(130)"},
      {"type": "DriftTransform", "name": "eq", "method": "tost",
       "inputView": "r18_a", "rightView": "r18_b", "valueCol": "value",
       "margin": 6.0, "outputView": "r18_eq"},
      {"type": "DriftTransform", "name": "pw", "method": "power",
       "inputView": "r18_a", "rightView": "r18_b", "valueCol": "value",
       "alpha": 0.05, "powerTarget": 0.8, "outputView": "r18_pw"},
      {"type": "DriftTransform", "name": "yu", "method": "yuen",
       "inputView": "r18_a", "rightView": "r18_b", "valueCol": "value",
       "trim": 0.2, "outputView": "r18_yu"},
      {"type": "Execute", "name": "mkcmh",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_cmh_in AS SELECT CAST((id div 2) % 3 AS STRING) AS seg, 'g' || CAST(id % 2 AS STRING) AS arm, (id % 5 < 2) AS success FROM range(300)"},
      {"type": "DriftTransform", "name": "cm", "method": "cmh",
       "inputView": "r18_cmh_in", "segCol": "seg", "groupCol": "arm",
       "successCol": "success", "armA": "g0", "armB": "g1",
       "outputView": "r18_cmh"},
      {"type": "Execute", "name": "mkmc",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_mc_in AS SELECT (id % 3 = 0) AS y, (id % 2 = 0) AS pa, (id % 4 = 0) AS pb FROM range(200)"},
      {"type": "ClassifyTransform", "name": "mc", "method": "mcnemar",
       "inputView": "r18_mc_in", "labelCol": "y", "aCol": "pa",
       "bCol": "pb", "outputView": "r18_mc"},
      {"type": "Execute", "name": "mkcf",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_cf_cal AS SELECT CAST(10 + id % 17 AS DOUBLE) AS y, 12.0 AS yhat FROM range(150)"},
      {"type": "Execute", "name": "mkcf2",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_cf_tst AS SELECT CAST(9 + id % 21 AS DOUBLE) AS y, 12.0 AS yhat FROM range(80)"},
      {"type": "ClassifyTransform", "name": "cf", "method": "conformal",
       "inputView": "r18_cf_cal", "rightView": "r18_cf_tst",
       "yCol": "y", "yhatCol": "yhat", "alpha": 0.1,
       "outputView": "r18_cf"},
      {"type": "Execute", "name": "mkdid",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_did_in AS SELECT 'g' || CAST(id % 2 AS STRING) AS arm, CASE WHEN id % 4 < 2 THEN 'pre' ELSE 'post' END AS period, CAST(5 + id % 11 + (id % 2) * (id % 4 DIV 2) AS DOUBLE) AS v FROM range(400)"},
      {"type": "DriftTransform", "name": "dd", "method": "did",
       "inputView": "r18_did_in", "groupCol": "arm",
       "periodCol": "period", "valueCol": "v", "armA": "g1",
       "armB": "g0", "prePeriod": "pre", "postPeriod": "post",
       "outputView": "r18_did"},
      {"type": "Extract", "name": "emb", "table": "embeddings",
       "outputView": "r18_emb"},
      {"type": "SimilarityTransform", "name": "kc", "method": "kcenter",
       "inputView": "r18_emb", "k": 4, "outputView": "r18_kc"},
      {"type": "Execute", "name": "mkkz",
       "sql": "CREATE OR REPLACE TEMP VIEW r18_kz_e AS SELECT 'n' || CAST(id % 40 AS STRING) AS src, 'n' || CAST((id * 7) % 40 AS STRING) AS dst FROM range(120) WHERE id % 40 <> (id * 7) % 40"},
      {"type": "GraphTransform", "name": "kz", "method": "katz",
       "inputView": "r18_kz_e", "srcCol": "src", "dstCol": "dst",
       "iters": 3, "dampNum": 100, "dampDen": 1000,
       "outputView": "r18_kz"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    // each stage result matches the direct API call on the same views
    val rd = spark.table("r18_rd").collect().head
    val rdApi = Drift.ratioDelta(spark.table("r18_units"), "arm",
      "num", "den", "g0", "g1").collect().head
    assert(rd == rdApi)
    val eq = spark.table("r18_eq").collect().head
    val eqApi = Drift.welchTost(spark.table("r18_a"),
      spark.table("r18_b"), "value", margin = 6.0).collect().head
    assert(eq == eqApi)
    val pw = spark.table("r18_pw").collect().head
    val pwApi = Drift.powerMde(spark.table("r18_a"),
      spark.table("r18_b"), "value").collect().head
    assert(pw == pwApi)
    val yu = spark.table("r18_yu").collect().head
    val yuApi = Drift.yuenTrimmed(spark.table("r18_a"),
      spark.table("r18_b"), "value", trim = 0.2).collect().head
    assert(yu == yuApi)
    val cm = spark.table("r18_cmh").collect().head
    val cmApi = Drift.cmh(spark.table("r18_cmh_in"), "seg", "arm",
      "success", "g0", "g1").collect().head
    assert(cm == cmApi)
    val mc = spark.table("r18_mc").collect().head
    val mcApi = Classify.mcnemar(spark.table("r18_mc_in"), "y", "pa",
      "pb").collect().head
    assert(mc == mcApi)
    val cf = spark.table("r18_cf").collect().head
    val cfApi = Classify.conformal(spark.table("r18_cf_cal"),
      spark.table("r18_cf_tst"), "y", "yhat").collect().head
    assert(cf == cfApi)
    val dd = spark.table("r18_did").collect().head
    val ddApi = Drift.did(spark.table("r18_did_in"), "arm", "period",
      "v", "g1", "g0", "pre", "post").collect().head
    assert(dd == ddApi)
    val kc = spark.table("r18_kc").orderBy("rank").collect()
    val kcApi = Similarity.kcenter(spark.table("r18_emb"), 4)
      .orderBy("rank").collect()
    assert(kc.toSeq == kcApi.toSeq)
    val kz = spark.table("r18_kz").orderBy("node").collect()
    val kzApi = Graph.katz(spark.table("r18_kz_e"), iters = 3,
      alphaNum = 100, alphaDen = 1000).orderBy("node").collect()
    assert(kz.toSeq == kzApi.toSeq)
    // tost without the margin key is a config-time error, not a crash
    val bad = Parser.parse("""{"stages": [
      {"type": "DriftTransform", "name": "eq", "method": "tost",
       "inputView": "r18_a", "rightView": "r18_b",
       "outputView": "r18_bad"}]}""",
      Map("default" -> new ParquetConnector(sf001)))
    assert(bad.isLeft &&
      bad.swap.toOption.get.exists(_.toString.contains("margin")))
    graft.util.Caches.unpersistAll()
  }

  test("wordpiece stages run from config and match the direct API") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "d", "table": "documents",
       "outputView": "wp_docs"},
      {"type": "TextAnalysisTransform", "name": "wl",
       "analysis": "wordpiece_learn", "inputView": "wp_docs",
       "rounds": 2, "outputView": "wp_learn"},
      {"type": "TextAnalysisTransform", "name": "we",
       "analysis": "wordpiece_encode", "inputView": "wp_docs",
       "pieces": ["th", "##he", "t", "h", "e", "a", "##a", "##b",
         "##c", "##d", "##e", "##f", "##g", "##h", "##i"],
       "maxPieceLen": 2, "outputView": "wp_enc"},
      {"type": "TextAnalysisTransform", "name": "wf",
       "analysis": "wordpiece_fertility", "inputView": "wp_docs",
       "langCol": "lang",
       "pieces": ["th", "##he", "t", "h", "e", "a", "##a", "##b",
         "##c", "##d", "##e", "##f", "##g", "##h", "##i"],
       "maxPieceLen": 2, "outputView": "wp_fert"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val pieces = Seq("th", "##he", "t", "h", "e", "a", "##a", "##b",
      "##c", "##d", "##e", "##f", "##g", "##h", "##i")
    val docs = spark.table("wp_docs")
    assert(spark.table("wp_learn").orderBy("merge_round").collect()
      .toSeq ==
      Wordpiece.learn(docs, "text", rounds = 2)
        .orderBy("merge_round").collect().toSeq)
    assert(spark.table("wp_enc").orderBy("doc_id").collect().toSeq ==
      Wordpiece.encode(docs, "doc_id", "text", pieces, 2)
        .orderBy("doc_id").collect().toSeq)
    assert(spark.table("wp_fert").orderBy("group").collect().toSeq ==
      Wordpiece.fertility(docs, "text", "lang", pieces, 2)
        .orderBy("group").collect().toSeq)
    graft.util.Caches.unpersistAll()
  }

  test("url stages run from config: normalize, domain_mix, " +
      "domain_quality, domain_filter") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Execute", "name": "mk",
       "sql": "CREATE OR REPLACE TEMPORARY VIEW us_in AS SELECT * FROM VALUES ('HTTPS://WWW.A.com:443/x?utm_a=1&id=2', true, 10), ('https://a.com/y', true, 20), ('http://B.com:80/z', false, 30), ('garbage', true, 40) AS t(url, good, n_tokens)"},
      {"type": "UrlTransform", "name": "n", "method": "normalize",
       "inputView": "us_in", "outputView": "us_norm"},
      {"type": "UrlTransform", "name": "mx", "method": "domain_mix",
       "inputView": "us_in", "outputView": "us_mix"},
      {"type": "UrlTransform", "name": "q", "method": "domain_quality",
       "inputView": "us_in", "outputView": "us_q"},
      {"type": "UrlTransform", "name": "f", "method": "domain_filter",
       "inputView": "us_in", "minShrunk": 0.5, "outputView": "us_kept"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    // normalization: lowercase host, default port + tracking stripped
    assert(spark.table("us_norm")
      .where(org.apache.spark.sql.functions.col("url_norm")
        === "https://www.a.com/x?id=2").count() == 1)
    // mix/quality: a.com, b.com, NULL(garbage) rows
    assert(spark.table("us_mix").count() == 3)
    assert(spark.table("us_q").count() == 3)
    // filter: both real domains clear 0.5 (p0 = 3/4 lifts the shrunk
    // rates); the malformed row drops
    assert(spark.table("us_kept").count() == 3)
    assert(spark.table("us_kept").columns.contains("rate_shrunk"))
    graft.util.Caches.unpersistAll()
  }

  test("proportions/segments stages require both arm names at parse; " +
      "two-view statistics require rightView") {
    val conf = """{"stages": [
      {"type": "DriftTransform", "name": "pr", "method": "proportions",
       "inputView": "a", "outputView": "b"},
      {"type": "DriftTransform", "name": "sg", "method": "segments",
       "inputView": "a", "armA": "g0", "outputView": "c"},
      {"type": "DriftTransform", "name": "wt", "method": "welch",
       "inputView": "a", "outputView": "d"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(e => e.key.contains("armA") &&
      e.message.contains("proportions")))
    assert(errs.exists(e => e.key.contains("armB") &&
      e.message.contains("segments")))
    assert(errs.exists(_.key.contains("rightView")))
  }

  test("drift stage requires rightView at parse") {
    val conf = """{"stages": [
      {"type": "DriftTransform", "name": "ks", "method": "ks",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("rightView")))
  }

  test("dq referential and fd stages run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "li", "table": "lineitem",
       "outputView": "rf_li"},
      {"type": "Extract", "name": "o", "table": "orders",
       "outputView": "rf_orders"},
      {"type": "DataQualityTransform", "name": "fk_ord",
       "method": "referential", "inputView": "rf_li",
       "rightView": "rf_orders", "leftKey": "l_orderkey",
       "rightKey": "o_orderkey", "outputView": "rf_fk"},
      {"type": "DataQualityTransform", "name": "fd", "method": "fd",
       "inputView": "rf_li", "lhs": ["l_partkey"], "rhsCol": "l_suppkey",
       "outputView": "rf_fd"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val fk = spark.table("rf_fk").collect().head
    assert(fk.getAs[String]("fk_name") == "fk_ord")
    assert(fk.getAs[Long]("n_orphan_rows") == 0L) // clean FK at this sf
    assert(spark.table("rf_fd").collect().head.getAs[Long]("n_groups") > 0)
  }

  test("fd stage without lhs fails at parse") {
    val conf = """{"stages": [
      {"type": "DataQualityTransform", "name": "fd", "method": "fd",
       "inputView": "a", "outputView": "b"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("lhs")))
  }

  test("systematic sample and rate_cap stages run from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "sy_docs"},
      {"type": "SampleTransform", "name": "sys", "method": "systematic",
       "inputView": "sy_docs", "idCol": "doc_id", "weightCol": "n_chars",
       "k": 50, "salt": "s", "outputView": "sy_out"},
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "sy_ev"},
      {"type": "SqlTransform", "name": "evts",
       "sql": "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM sy_ev",
       "outputView": "sy_ev_ts"},
      {"type": "BehaviorTransform", "name": "cap", "method": "rate_cap",
       "inputView": "sy_ev_ts", "windowSeconds": 3600, "k": 2,
       "outputView": "sy_capped"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    import spark.implicits._
    val slots = spark.table("sy_out").agg(
      org.apache.spark.sql.functions.sum("n_slots")).as[Long].collect().head
    assert(slots == 50L)
    val over = spark.table("sy_capped")
      .groupBy("user_id", "bucket_start")
      .count().where($"count" > 2).count()
    assert(over == 0L, "rate cap must bound every (user, bucket)")
    graft.util.Caches.unpersistAll()
  }

  test("snapshot stages: publish twice, time-travel read from config") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val base = java.nio.file.Files.createTempDirectory("xs_snap")
      .toString + "/t"
    val conf = s"""{"stages": [
      {"type": "Extract", "name": "o", "table": "orders",
       "outputView": "sn_orders"},
      {"type": "SqlTransform", "name": "v1src",
       "sql": "SELECT * FROM sn_orders WHERE o_orderstatus = 'F'",
       "outputView": "sn_v1"},
      {"type": "Snapshot", "name": "pub1", "method": "publish",
       "inputView": "sn_v1", "baseDir": "$base", "outputView": "sn_p1"},
      {"type": "Snapshot", "name": "pub2", "method": "publish",
       "inputView": "sn_orders", "baseDir": "$base", "outputView": "sn_p2"},
      {"type": "Snapshot", "name": "tt", "method": "read", "version": 1,
       "baseDir": "$base", "outputView": "sn_ttv"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val v1 = spark.table("sn_ttv").count()
    assert(v1 > 0 && v1 == spark.table("sn_v1").count())
    assert(spark.table("sn_p2").count() == spark.table("sn_orders").count())
  }

  test("snapshot vacuum from HOCON: refuses without the params latch, " +
      "drops all but keepLast with it") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("xs_vac")
      .toString + "/t"
    def run(conf: String) = {
      val Right(p) = Parser.parse(conf,
        Map("default" -> new ParquetConnector(sf001))): @unchecked
      Runner.run(p)
    }
    run(s"""stages = [
      { type = SqlTransform, name = src, sql = "SELECT id FROM range(5)"
        outputView = vac_src }
      { type = Snapshot, name = p1, method = publish, inputView = vac_src
        baseDir = "$base", outputView = vac_v1 }
      { type = Snapshot, name = p2, method = publish, inputView = vac_src
        baseDir = "$base", outputView = vac_v2 }
      { type = Snapshot, name = p3, method = publish, inputView = vac_src
        baseDir = "$base", outputView = vac_v3 }
    ]""")
    def vacuum(latch: String) = s"""stages = [
      { type = Snapshot, name = vac, method = vacuum, baseDir = "$base"
        outputView = vac_dropped, keepLast = 1
        $latch }
    ]"""
    val ex = intercept[DetailException](run(vacuum("")))
    assert(ex.getMessage.contains("confirm.truncate"), ex.getMessage)
    run(vacuum("""params { "confirm.truncate" = "true" }"""))
    assert(spark.table("vac_dropped").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    run(s"""stages = [
      { type = Snapshot, name = rd, method = read, baseDir = "$base"
        outputView = vac_latest }
    ]""")
    assert(spark.table("vac_latest").count() == 5)
  }

  test("snapshot publish without inputView fails at parse; drift profile runs") {
    val bad = """{"stages": [
      {"type": "Snapshot", "name": "p", "method": "publish",
       "baseDir": "/tmp/x", "outputView": "v"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("inputView")))

    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "o", "table": "orders",
       "outputView": "dp_orders"},
      {"type": "SqlTransform", "name": "b",
       "sql": "SELECT * FROM dp_orders WHERE o_orderkey % 2 = 0",
       "outputView": "dp_before"},
      {"type": "DriftTransform", "name": "pd", "method": "profile",
       "inputView": "dp_before", "rightView": "dp_orders",
       "columns": ["o_orderkey", "o_totalprice"], "outputView": "dp_out"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val out = spark.table("dp_out")
    assert(out.count() == 2)
    assert(out.columns.contains("drifted"))
  }

  test("round-11 methods as config stages: bitext, novelty_bloom, " +
      "stratified containment, boilerplate, graph checkpointing") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "r11_embs"},
      {"type": "SqlTransform", "name": "qa",
       "sql": "SELECT * FROM r11_embs WHERE vec_id % 2 = 0",
       "outputView": "r11_a"},
      {"type": "SqlTransform", "name": "qb",
       "sql": "SELECT * FROM r11_embs WHERE vec_id % 2 = 1",
       "outputView": "r11_b"},
      {"type": "SimilarityTransform", "name": "bt", "method": "bitext",
       "inputView": "r11_b", "queryView": "r11_a", "minMargin": 0.01,
       "outputView": "r11_bitext"},
      {"type": "SimilarityTransform", "name": "bts",
       "method": "bitext_scalable",
       "inputView": "r11_b", "queryView": "r11_a", "minMargin": 0.01,
       "outputView": "r11_bitext_s"},
      {"type": "SimilarityTransform", "name": "pq", "method": "pq_topk",
       "inputView": "r11_embs", "queryView": "r11_a", "k": 3,
       "inDim": 64, "subspaces": 8,
       "outputView": "r11_pq"},
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r11_docs"},
      {"type": "SqlTransform", "name": "ref",
       "sql": "SELECT * FROM r11_docs WHERE doc_id % 7 = 0",
       "outputView": "r11_ref"},
      {"type": "SqlTransform", "name": "corp",
       "sql": "SELECT * FROM r11_docs WHERE doc_id % 7 != 0",
       "outputView": "r11_corp"},
      {"type": "ContaminationTransform", "name": "nv", "method": "novelty",
       "inputView": "r11_corp", "evalView": "r11_ref",
       "outputView": "r11_novelty"},
      {"type": "ContaminationTransform", "name": "nvb",
       "method": "novelty_bloom", "mBits": 65536, "k": 3,
       "inputView": "r11_corp", "evalView": "r11_ref",
       "outputView": "r11_novelty_bloom"},
      {"type": "DedupTransform", "name": "cs",
       "method": "containment_stratified",
       "inputView": "r11_docs", "outputView": "r11_contain"},
      {"type": "TextAnalysisTransform", "name": "bp",
       "analysis": "boilerplate", "window": 8, "minDocs": 2,
       "inputView": "r11_docs", "outputView": "r11_boiler"},
      {"type": "DedupTransform", "name": "wj", "method": "weighted_pairs",
       "threshold": 0.3, "maxTf": 8,
       "inputView": "r11_docs", "outputView": "r11_weighted"},
      {"type": "SqlTransform", "name": "edges",
       "sql": "SELECT CAST(doc_id AS STRING) AS src, lang AS dst FROM r11_docs",
       "outputView": "r11_edges"},
      {"type": "GraphTransform", "name": "pr", "method": "pagerank",
       "iters": 4, "checkpointEvery": 2,
       "inputView": "r11_edges", "outputView": "r11_pr"},
      {"type": "SqlTransform", "name": "uedges",
       "sql": "SELECT doc_id AS src, doc_id % 17 + 10000 AS dst FROM r11_docs",
       "outputView": "r11_uedges"},
      {"type": "GraphTransform", "name": "hc", "method": "harmonic",
       "iters": 2, "inputView": "r11_uedges", "outputView": "r11_harmonic"},
      {"type": "GraphTransform", "name": "nf", "method": "nf",
       "iters": 2, "inputView": "r11_uedges", "outputView": "r11_nf"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    // bitext: both forms ran; the stage wiring matches the library call
    val bt = spark.table("r11_bitext")
    assert(bt.columns.toSeq ==
      Seq("q_id", "n_id", "cosine", "runner_up", "margin"))
    assert(bt.count() ==
      Similarity.bitextMine(
        spark.table("r11_a"), spark.table("r11_b"), 0.01).count())
    assert(spark.table("r11_bitext_s").columns.toSeq == bt.columns.toSeq)
    // PQ through the stage surface: ranked ADC rows, k respected
    val pq = spark.table("r11_pq")
    assert(pq.columns.toSeq == Seq("q_id", "n_id", "adist", "rank"))
    assert(pq.groupBy("q_id").count().collect().forall(_.getLong(1) <= 3))
    // novelty_bloom is bit-equal to novelty through the config surface
    assert(spark.table("r11_novelty_bloom").collect().map(_.toString).toSet
      == spark.table("r11_novelty").collect().map(_.toString).toSet)
    // stratified containment produced the containment schema
    assert(spark.table("r11_contain").columns.toSeq ==
      Seq("doc_a", "doc_b", "cont_a", "cont_b"))
    // boilerplate kept every doc with its cleaned text
    val boiler = spark.table("r11_boiler")
    assert(boiler.columns.contains("clean_text"))
    assert(boiler.count() == spark.table("r11_docs").count())
    // checkpointed pagerank equals the plain run
    val plain = Graph.pagerank(spark.table("r11_edges"), iters = 4)
      .collect().map(_.toString).toSet
    assert(spark.table("r11_pr").collect().map(_.toString).toSet == plain)
    // weighted dedup + HyperBall family ran with the right shapes
    assert(spark.table("r11_weighted").columns.toSeq ==
      Seq("doc_a", "doc_b", "wjaccard"))
    assert(spark.table("r11_harmonic").columns.toSeq ==
      Seq("node", "harmonic_exact", "harmonic_estimate"))
    val nf = spark.table("r11_nf").orderBy("r").collect()
    assert(nf.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(nf.last.getDouble(2) == 1.0)
    graft.util.Caches.unpersistAll()
  }

  test("curation chain as one declarative config (the curate_pipeline " +
      "composition through the stage surface)") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "cu_docs"},
      {"type": "TextAnalysisTransform", "name": "boiler",
       "analysis": "boilerplate", "window": 8, "minDocs": 2,
       "inputView": "cu_docs", "outputView": "cu_clean"},
      {"type": "SqlTransform", "name": "survivors",
       "sql": "SELECT c.doc_id, d.lang, c.clean_text FROM cu_clean c JOIN cu_docs d ON c.doc_id = d.doc_id WHERE c.n_kept > 0",
       "outputView": "cu_kept"},
      {"type": "DedupTransform", "name": "dd", "method": "exact",
       "keys": ["clean_text"], "inputView": "cu_kept",
       "outputView": "cu_deduped"},
      {"type": "SqlTransform", "name": "tokens",
       "sql": "SELECT doc_id, lang, CAST(size(split(clean_text, ' ')) AS BIGINT) AS n_tokens FROM cu_deduped",
       "outputView": "cu_out"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    // the declarative chain reproduces the library composition exactly
    val d = spark.table("cu_docs")
    val expected = Dedup.exact(
        TextAnalysis.boilerplateChunks(d, "doc_id", "text", 8, 2)
          .where(org.apache.spark.sql.functions.col("n_kept") > 0)
          .join(d.select($"doc_id", $"lang"), "doc_id")
          .select($"doc_id", $"lang", $"clean_text"),
        keys = Seq("clean_text"), tieBreak = Seq("doc_id"))
      .select($"doc_id", $"lang",
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"clean_text", " "))
          .cast("long").as("n_tokens"))
      .collect().map(_.toString).toSet
    assert(out.collect().map(_.toString).toSet == expected)
    graft.util.Caches.unpersistAll()
  }

  test("hamming_topk and importance as config stages match the library") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "hm_embs"},
      {"type": "SqlTransform", "name": "q",
       "sql": "SELECT * FROM hm_embs WHERE vec_id < 5",
       "outputView": "hm_q"},
      {"type": "SimilarityTransform", "name": "hm", "method": "hamming_topk",
       "inputView": "hm_embs", "queryView": "hm_q", "k": 3,
       "outputView": "hm_out"},
      {"type": "SimilarityTransform", "name": "hp", "method": "hamming_pairs",
       "inputView": "hm_embs", "k": 3,
       "outputView": "hp_out"},
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "im_docs"},
      {"type": "SampleTransform", "name": "im", "method": "importance",
       "inputView": "im_docs", "stratumCol": "lang", "targetValue": "en",
       "nBuckets": 128, "outputView": "im_out"},
      {"type": "DedupTransform", "name": "op", "method": "oph_pairs",
       "threshold": 0.9, "inputView": "im_docs", "outputView": "op_out"},
      {"type": "TextAnalysisTransform", "name": "dr", "analysis": "dup_runs",
       "ngramN": 8, "inputView": "im_docs", "outputView": "dr_out"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val hm = spark.table("hm_out")
    assert(hm.columns.toSeq == Seq("q_id", "n_id", "hamming", "rank"))
    val embs = spark.table("hm_embs")
    assert(hm.collect().map(_.toString).toSet ==
      Similarity.hammingTopK(embs,
          embs.where($"vec_id" < 5), k = 3)
        .collect().map(_.toString).toSet)
    val hp = spark.table("hp_out")
    assert(hp.columns.toSeq == Seq("vec_a", "vec_b", "hamming"))
    assert(hp.collect().map(_.toString).toSet ==
      Similarity.hammingNeighbors(embs, maxHamming = 3)
        .collect().map(_.toString).toSet)
    val im = spark.table("im_out")
    assert(im.columns.toSeq == Seq("doc_id", "n_tokens", "score"))
    assert(im.count() == spark.table("im_docs").count())
    assert(im.collect().map(_.toString).toSet ==
      Sampling.importanceWeights(spark.table("im_docs"), "doc_id", "text",
          $"lang" === "en", buckets = 128)
        .collect().map(_.toString).toSet)
    val op = spark.table("op_out")
    assert(op.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    assert(op.collect().map(_.toString).toSet ==
      Dedup.minhashPairsOPH(spark.table("im_docs"), "doc_id", "text",
          threshold = 0.9)
        .collect().map(_.toString).toSet)
    val dr = spark.table("dr_out")
    assert(dr.columns.toSeq == Seq("doc_id", "n_grams", "n_dup", "max_run"))
    assert(dr.count() == spark.table("im_docs").count())
    graft.util.Caches.unpersistAll()
  }

  test("pareto, medoids, ttr, chao1, permutation as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r12b_docs"},
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "r12b_embs"},
      {"type": "TextAnalysisTransform", "name": "ttr", "analysis": "ttr",
       "inputView": "r12b_docs", "outputView": "r12b_ttr"},
      {"type": "TextAnalysisTransform", "name": "rich", "analysis": "chao1",
       "inputView": "r12b_docs", "outputView": "r12b_chao1"},
      {"type": "SampleTransform", "name": "par", "method": "pareto",
       "inputView": "r12b_ttr", "outputView": "r12b_front",
       "xCol": "n_tokens", "yCol": "ttr"},
      {"type": "SimilarityTransform", "name": "med", "method": "medoids",
       "inputView": "r12b_embs", "centroidEvery": 40,
       "outputView": "r12b_medoids"},
      {"type": "SqlTransform", "name": "ev_a",
       "sql": "SELECT doc_id AS id, n_chars AS v FROM r12b_docs WHERE lang = 'en'",
       "outputView": "r12b_a"},
      {"type": "SqlTransform", "name": "ev_b",
       "sql": "SELECT doc_id AS id, n_chars AS v FROM r12b_docs WHERE lang = 'de'",
       "outputView": "r12b_b"},
      {"type": "DriftTransform", "name": "perm", "method": "permutation",
       "inputView": "r12b_a", "rightView": "r12b_b",
       "outputView": "r12b_perm", "idCol": "id", "valueCol": "v",
       "nPerms": 19, "salt": "s"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("r12b_front").collect().map(_.toString).toSet ==
      Sampling.paretoFront(spark.table("r12b_ttr"), "n_tokens", "ttr")
        .collect().map(_.toString).toSet)
    assert(spark.table("r12b_medoids").collect().map(_.toString).toSet ==
      Similarity.medoids(spark.table("r12b_embs"), centroidEvery = 40)
        .collect().map(_.toString).toSet)
    val chao = spark.table("r12b_chao1").collect().head
    assert(chao.getLong(0) > 0 && chao.getDouble(4) >= chao.getLong(1))
    val perm = spark.table("r12b_perm").collect().head
    assert(perm.getLong(5) == 19L
      && perm.getDouble(7) >= 0.05 && perm.getDouble(7) <= 1.0)
    graft.util.Caches.unpersistAll()
  }

  test("attribution_decay, forecast_eval, assortativity, charclass as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r12e_docs"},
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "r12e_ev"},
      {"type": "BehaviorTransform", "name": "dec",
       "method": "attribution_decay",
       "inputView": "r12e_ev", "outputView": "r12e_dec",
       "windowSeconds": 3600, "halfLifeSeconds": 600},
      {"type": "SqlTransform", "name": "series",
       "sql": "SELECT event_type AS k, CAST(user_id % 50 AS BIGINT) AS ord, CAST(count(*) AS DOUBLE) AS v, CAST(count(*) + user_id % 3 AS DOUBLE) AS fc FROM r12e_ev GROUP BY event_type, user_id",
       "outputView": "r12e_series"},
      {"type": "GapfillTransform", "name": "fe", "method": "forecast_eval",
       "inputView": "r12e_series", "outputView": "r12e_fe",
       "keyCol": "k", "ordCol": "ord", "valueCol": "v",
       "forecastCol": "fc"},
      {"type": "SqlTransform", "name": "edges",
       "sql": "SELECT CAST(user_id AS STRING) AS src, event_type AS dst FROM r12e_ev",
       "outputView": "r12e_edges"},
      {"type": "GraphTransform", "name": "asst", "method": "assortativity",
       "inputView": "r12e_edges", "outputView": "r12e_asst"},
      {"type": "TextAnalysisTransform", "name": "cc",
       "analysis": "charclass",
       "inputView": "r12e_docs", "outputView": "r12e_cc"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("r12e_dec").collect().map(_.toString).toSet ==
      Behavior.timeDecayAttribution(spark.table("r12e_ev"), "ts",
        "user_id", "event_type", "event_id", "value", "click", "purchase",
        3600L, 600L).collect().map(_.toString).toSet)
    assert(spark.table("r12e_fe").collect().map(_.toString).toSet ==
      TimeSeries.forecastEval(spark.table("r12e_series"), "k", "ord",
        "v", "fc").collect().map(_.toString).toSet)
    val und = spark.sql("""SELECT DISTINCT least(src, dst) AS a,
      greatest(src, dst) AS b FROM r12e_edges
      WHERE least(src, dst) < greatest(src, dst)""")
    assert(spark.table("r12e_asst").collect().map(_.toString).toSet ==
      Graph.assortativity(und).collect().map(_.toString).toSet)
    assert(spark.table("r12e_cc").collect().map(_.toString).toSet ==
      TextAnalysis.charClassMix(spark.table("r12e_docs"), "doc_id", "text")
        .collect().map(_.toString).toSet)
    graft.util.Caches.unpersistAll()
  }

  test("srm, changepoint, heavy_terms, pseudonymize as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r12d_docs"},
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "r12d_ev"},
      {"type": "SqlTransform", "name": "arms",
       "sql": "SELECT concat('g', user_id % 2) AS arm FROM r12d_ev",
       "outputView": "r12d_arms"},
      {"type": "DriftTransform", "name": "srm", "method": "srm",
       "inputView": "r12d_arms", "outputView": "r12d_srm",
       "groupCol": "arm", "expected": {"g0": 1, "g1": 1}},
      {"type": "SqlTransform", "name": "series",
       "sql": "SELECT event_type AS k, CAST(user_id % 100 AS BIGINT) AS ord, CAST(count(*) AS DOUBLE) AS v FROM r12d_ev GROUP BY 1, 2",
       "outputView": "r12d_series"},
      {"type": "GapfillTransform", "name": "cp", "method": "changepoint",
       "inputView": "r12d_series", "outputView": "r12d_cp",
       "keyCol": "k", "ordCol": "ord", "valueCol": "v"},
      {"type": "SqlTransform", "name": "da",
       "sql": "SELECT * FROM r12d_docs WHERE doc_id % 2 = 0",
       "outputView": "r12d_da"},
      {"type": "SqlTransform", "name": "db",
       "sql": "SELECT * FROM r12d_docs WHERE doc_id % 2 = 1",
       "outputView": "r12d_db"},
      {"type": "DriftTransform", "name": "hc", "method": "heavy_terms",
       "inputView": "r12d_da", "rightView": "r12d_db",
       "outputView": "r12d_hc", "textCol": "text", "k": 10},
      {"type": "PiiTransform", "name": "pseud", "method": "pseudonymize",
       "inputView": "r12d_ev", "outputView": "r12d_pseud",
       "cols": ["user_id"], "salt": "rel1"},
      {"type": "PiiTransform", "name": "audit", "method": "pseudonym_audit",
       "inputView": "r12d_ev", "outputView": "r12d_audit",
       "cols": ["user_id"], "salt": "rel1"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("r12d_srm").collect().map(_.toString).toSet ==
      Drift.srmCheck(spark.table("r12d_arms"), "arm",
        Map("g0" -> 1.0, "g1" -> 1.0), 3.841)
        .collect().map(_.toString).toSet)
    assert(spark.table("r12d_cp").collect().map(_.toString).toSet ==
      TimeSeries.changepoint(spark.table("r12d_series"), "k", "ord", "v")
        .collect().map(_.toString).toSet)
    assert(spark.table("r12d_hc").collect().map(_.toString).toSet ==
      TextAnalysis.heavyChangers(spark.table("r12d_da"),
        spark.table("r12d_db"), "text", 10)
        .collect().map(_.toString).toSet)
    assert(spark.table("r12d_pseud").count() ==
      spark.table("r12d_ev").count())
    assert(spark.table("r12d_pseud").columns.toSeq ==
      spark.table("r12d_ev").columns.toSeq, "schema shape preserved")
    assert(spark.table("r12d_audit").count() == 0L)
    // srm without the designed weights is a config error
    val Left(errs) = Parser.parse("""{"stages": [
      {"type": "DriftTransform", "name": "x", "method": "srm",
       "inputView": "a", "outputView": "o"}]}""",
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("expected")))
    graft.util.Caches.unpersistAll()
  }

  test("survival, cuped, readability, zipf as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r12c_docs"},
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "r12c_ev"},
      {"type": "TextAnalysisTransform", "name": "read",
       "analysis": "readability",
       "inputView": "r12c_docs", "outputView": "r12c_read"},
      {"type": "TextAnalysisTransform", "name": "zipf", "analysis": "zipf",
       "topK": 50, "inputView": "r12c_docs", "outputView": "r12c_zipf"},
      {"type": "SqlTransform", "name": "units",
       "sql": "SELECT CAST(user_id % 3 AS DOUBLE) + 1 AS dur, user_id % 2 = 0 AS obs FROM (SELECT DISTINCT user_id FROM r12c_ev)",
       "outputView": "r12c_units"},
      {"type": "BehaviorTransform", "name": "km", "method": "survival",
       "inputView": "r12c_units", "outputView": "r12c_km",
       "durationCol": "dur", "observedCol": "obs"},
      {"type": "SqlTransform", "name": "cu",
       "sql": "SELECT concat('g', user_id % 2) AS grp, CAST(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS DOUBLE) AS pre_v, CAST(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS DOUBLE) AS post_v FROM r12c_ev GROUP BY user_id",
       "outputView": "r12c_cunits"},
      {"type": "DriftTransform", "name": "cuped", "method": "cuped",
       "inputView": "r12c_cunits", "outputView": "r12c_cuped",
       "groupCol": "grp", "preCol": "pre_v", "postCol": "post_v"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    assert(spark.table("r12c_read").collect().map(_.toString).toSet ==
      TextAnalysis.readability(spark.table("r12c_docs"), "doc_id", "text")
        .collect().map(_.toString).toSet)
    assert(spark.table("r12c_zipf").collect().map(_.toString).toSet ==
      TextAnalysis.zipfFit(spark.table("r12c_docs"), "text", topN = 50)
        .collect().map(_.toString).toSet)
    assert(spark.table("r12c_km").collect().map(_.toString).toSet ==
      Behavior.kaplanMeier(spark.table("r12c_units"), "dur", "obs")
        .collect().map(_.toString).toSet)
    assert(spark.table("r12c_cuped").collect().map(_.toString).toSet ==
      Drift.cuped(spark.table("r12c_cunits"), "grp", "pre_v", "post_v")
        .collect().map(_.toString).toSet)
    // cuped is the one single-view drift method: rightView stays optional
    val Left(errs) = Parser.parse("""{"stages": [
      {"type": "DriftTransform", "name": "x", "method": "ks",
       "inputView": "a", "outputView": "o"}]}""",
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(_.key.contains("rightView")))
    graft.util.Caches.unpersistAll()
  }

  test("classify stage: train_score -> auc/confusion/calibration, agreement") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "cl_docs"},
      {"type": "ClassifyTransform", "name": "nb", "method": "train_score",
       "inputView": "cl_docs", "outputView": "cl_scored",
       "positiveExpr": "source IN ('src1','src5')", "buckets": 64},
      {"type": "SqlTransform", "name": "lbl",
       "sql": "SELECT s.*, d.source IN ('src1','src5') AS pos FROM cl_scored s JOIN cl_docs d USING (doc_id)",
       "outputView": "cl_lbl"},
      {"type": "ClassifyTransform", "name": "auc", "method": "auc",
       "inputView": "cl_lbl", "outputView": "cl_auc",
       "labelCol": "pos", "scoreCol": "log_odds"},
      {"type": "ClassifyTransform", "name": "cm", "method": "confusion",
       "inputView": "cl_lbl", "outputView": "cl_cm",
       "labelCol": "pos", "predCol": "pred"},
      {"type": "ClassifyTransform", "name": "cal", "method": "calibration",
       "inputView": "cl_lbl", "outputView": "cl_cal",
       "labelCol": "pos", "scoreCol": "log_odds", "binWidth": 2.0},
      {"type": "ClassifyTransform", "name": "ag", "method": "agreement",
       "inputView": "cl_docs", "outputView": "cl_ag",
       "aCol": "lang", "bCol": "source"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val auc = spark.table("cl_auc").collect().head
    assert(auc.getLong(0) + auc.getLong(1)
      == spark.table("cl_docs").count())
    assert(!auc.isNullAt(2) && auc.getDouble(2) >= 0 && auc.getDouble(2) <= 1)
    val cm = spark.table("cl_cm").collect().head
    assert(cm.getLong(0) + cm.getLong(1) + cm.getLong(2) + cm.getLong(3)
      == spark.table("cl_docs").count())
    assert(spark.table("cl_cal").columns.toSeq ==
      Seq("bin", "n", "n_pos", "pos_rate", "mean_score"))
    assert(spark.table("cl_ag").columns.toSeq ==
      Seq("n", "n_agree", "po", "pe", "kappa"))
    graft.util.Caches.unpersistAll()
  }

  test("maxsim, kmeans, nearest asof, modularity as config methods") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "embs", "table": "embeddings",
       "outputView": "r12_embs"},
      {"type": "SqlTransform", "name": "tok",
       "sql": "SELECT CAST(vec_id / 4 AS LONG) AS doc_id, vec_id % 4 AS q_tok, embedding FROM r12_embs",
       "outputView": "r12_tok"},
      {"type": "SqlTransform", "name": "q",
       "sql": "SELECT doc_id AS q_id, q_tok, embedding FROM r12_tok WHERE doc_id < 2",
       "outputView": "r12_q"},
      {"type": "SqlTransform", "name": "c",
       "sql": "SELECT doc_id, embedding FROM r12_tok WHERE doc_id >= 2",
       "outputView": "r12_c"},
      {"type": "SimilarityTransform", "name": "ms", "method": "maxsim",
       "inputView": "r12_c", "queryView": "r12_q", "k": 3,
       "outputView": "r12_maxsim"},
      {"type": "SimilarityTransform", "name": "km", "method": "kmeans",
       "inputView": "r12_embs", "centroidEvery": 40,
       "outputView": "r12_cells"},
      {"type": "Extract", "name": "ev", "table": "events",
       "outputView": "r12_events"},
      {"type": "SqlTransform", "name": "clicks",
       "sql": "SELECT event_id, ts, user_id, value FROM r12_events WHERE event_type = 'click'",
       "outputView": "r12_clicks"},
      {"type": "SqlTransform", "name": "purch",
       "sql": "SELECT user_id, ts AS p_ts, max(value) AS p_value FROM r12_events WHERE event_type = 'purchase' GROUP BY user_id, ts",
       "outputView": "r12_purch"},
      {"type": "AsofJoinTransform", "name": "near",
       "inputView": "r12_clicks", "rightView": "r12_purch",
       "outputView": "r12_near", "keys": ["user_id"],
       "leftTime": "ts", "rightTime": "p_ts",
       "nearest": true, "toleranceMicros": 7200000000},
      {"type": "SqlTransform", "name": "edges",
       "sql": "SELECT * FROM VALUES (1,2),(2,3),(3,1),(3,4) AS t(src,dst)",
       "outputView": "r12_edges"},
      {"type": "SqlTransform", "name": "asg",
       "sql": "SELECT * FROM VALUES (1,10),(2,10),(3,10),(4,20) AS t(node,community)",
       "outputView": "r12_asg"},
      {"type": "GraphTransform", "name": "mod", "method": "modularity",
       "inputView": "r12_edges", "outputView": "r12_mod",
       "assignView": "r12_asg"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val near = p.stages.collectFirst {
      case s if s.stage.isInstanceOf[AsofJoinTransformStage] =>
        s.stage.asInstanceOf[AsofJoinTransformStage]
    }.get
    assert(near.nearest && near.toleranceMicros == 7200000000L)
    Runner.run(p).get
    val ms = spark.table("r12_maxsim")
    assert(ms.columns.toSeq == Seq("q_id", "n_id", "maxsim", "rank"))
    assert(ms.collect().map(_.toString).toSet ==
      Similarity.maxSimTopK(spark.table("r12_c"), spark.table("r12_q"), 3)
        .collect().map(_.toString).toSet)
    val km = spark.table("r12_cells")
    assert(km.columns.toSeq == Seq("vec_id", "cell", "cell_size"))
    assert(km.collect().map(_.toString).toSet ==
      Similarity.kmeans(spark.table("r12_embs"), centroidEvery = 40)
        .collect().map(_.toString).toSet)
    val nr = spark.table("r12_near")
    assert(nr.collect().map(_.toString).toSet ==
      Joins.asofNearest(spark.table("r12_clicks"), spark.table("r12_purch"),
          Seq("user_id"), "ts", "p_ts",
          toleranceMicros = 7200L * 1000000L)
        .collect().map(_.toString).toSet)
    val md = spark.table("r12_mod")
    val und = spark.table("r12_edges")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .where($"a" < $"b").distinct()
    assert(md.collect().map(_.toString).toSet ==
      Graph.modularity(und, spark.table("r12_asg"))
        .collect().map(_.toString).toSet)
    graft.util.Caches.unpersistAll()
  }

  test("round-18 graph methods as config stages: scc, topo_layers, walks, " +
      "clustering, reciprocity, degree_alpha match the library") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "SqlTransform", "name": "edges",
       "sql": "SELECT * FROM VALUES (1,2),(2,3),(3,1),(3,4),(4,5),(5,4),(2,1) AS t(src,dst)",
       "outputView": "r18_edges"},
      {"type": "GraphTransform", "name": "s", "method": "scc",
       "inputView": "r18_edges", "outputView": "r18_scc"},
      {"type": "GraphTransform", "name": "t", "method": "topo_layers",
       "inputView": "r18_edges", "outputView": "r18_topo"},
      {"type": "GraphTransform", "name": "w", "method": "walks",
       "inputView": "r18_edges", "outputView": "r18_walks",
       "iters": 3, "salt": "r18"},
      {"type": "GraphTransform", "name": "c", "method": "clustering",
       "inputView": "r18_edges", "outputView": "r18_clust"},
      {"type": "GraphTransform", "name": "r", "method": "reciprocity",
       "inputView": "r18_edges", "outputView": "r18_recip"},
      {"type": "GraphTransform", "name": "d", "method": "degree_alpha",
       "inputView": "r18_edges", "outputView": "r18_alpha", "dMin": 1}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val e = spark.table("r18_edges")
    val und = e.select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b"))
      .where($"a" < $"b").distinct()
    def same(view: String, want: org.apache.spark.sql.DataFrame): Unit =
      assert(spark.table(view).collect().map(_.toString).toSet ==
        want.collect().map(_.toString).toSet, view)
    same("r18_scc", Graph.scc(e))
    same("r18_topo", Graph.topoLayers(e))
    same("r18_walks", Graph.deterministicWalks(und, length = 3, salt = "r18"))
    same("r18_clust", Graph.clusteringCoefficients(und))
    same("r18_recip", Graph.reciprocity(e))
    same("r18_alpha", Graph.degreePowerLaw(und, dMin = 1))
    graft.util.Caches.unpersistAll()
  }

  test("round-18 text + dedup methods as config stages: script_mix, " +
      "distinct_n, vectorize, keep_best, cluster_stats match the library") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r18_docs"},
      {"type": "TextAnalysisTransform", "name": "sm", "analysis": "script_mix",
       "inputView": "r18_docs", "outputView": "r18_script"},
      {"type": "TextAnalysisTransform", "name": "dn", "analysis": "distinct_n",
       "inputView": "r18_docs", "outputView": "r18_distinct"},
      {"type": "TextAnalysisTransform", "name": "vz", "analysis": "vectorize",
       "inputView": "r18_docs", "outputView": "r18_vec", "dim": 8},
      {"type": "SqlTransform", "name": "comps",
       "sql": "SELECT * FROM VALUES (1,1),(2,1),(3,3),(4,3),(5,3) AS t(doc_id, component)",
       "outputView": "r18_comps"},
      {"type": "SqlTransform", "name": "scored",
       "sql": "SELECT doc_id, text, CAST(doc_id % 3 AS DOUBLE) AS score FROM r18_docs",
       "outputView": "r18_scored"},
      {"type": "DedupTransform", "name": "kb", "method": "keep_best",
       "inputView": "r18_scored", "outputView": "r18_best",
       "componentsView": "r18_comps", "scoreCol": "score"},
      {"type": "DedupTransform", "name": "cs", "method": "cluster_stats",
       "inputView": "r18_docs", "outputView": "r18_cstats",
       "componentsView": "r18_comps"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    Runner.run(p).get
    val docs = spark.table("r18_docs")
    def same(view: String, want: org.apache.spark.sql.DataFrame): Unit =
      assert(spark.table(view).collect().map(_.toString).toSet ==
        want.collect().map(_.toString).toSet, view)
    same("r18_script", TextAnalysis.scriptMix(docs, "doc_id", "text"))
    same("r18_distinct", TextAnalysis.distinctN(docs, "text", "lang"))
    same("r18_vec",
      TextAnalysis.hashingVectorize(docs, "doc_id", "text", dim = 8))
    same("r18_best", Dedup.keepBest(spark.table("r18_scored"),
      spark.table("r18_comps"), "doc_id", "score"))
    same("r18_cstats",
      Dedup.clusterStats(docs, spark.table("r18_comps")))
    // missing componentsView is loud, at parse time
    val bad = """{"stages": [
      {"type": "Extract", "name": "docs", "table": "documents",
       "outputView": "r18b_docs"},
      {"type": "DedupTransform", "name": "cs", "method": "cluster_stats",
       "inputView": "r18b_docs", "outputView": "r18b_x"}
    ]}"""
    val Left(errs) = Parser.parse(bad,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.map(_.key) == List("stages[1].componentsView"), errs)
    graft.util.Caches.unpersistAll()
  }
}
