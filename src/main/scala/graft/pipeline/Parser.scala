package graft.pipeline

import graft.connect.Connector
import graft.ops._
import graft.streaming.{StreamingExtractStage, StreamingLoadStage}
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
  * Each stage's config surface is written once: the keys and defaults its
  * factory reads through the [[ConfigReader]] are the stage's options, and
  * any other key is an `unknown option` error (ref: the invalid-keys
  * check, CassandraExtract.scala:33) — for classpath [[StagePlugin]]s too.
  * The core stages are read by their factories below; every other stage
  * reads its own config in its constructor ([[ConfiguredStage]]), so its
  * registry entry only builds it.
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
    "DedupTransform" -> ((r, _) => new DedupTransformStage(r)),
    "SimilarityTransform" -> ((r, _) => new SimilarityTransformStage(r)),
    "AsofJoinTransform" -> ((r, _) => new AsofJoinTransformStage(r)),
    "SaltedJoinTransform" -> ((r, _) => new SaltedJoinTransformStage(r)),
    "RangeJoinTransform" -> ((r, _) => new RangeJoinTransformStage(r)),
    "ContaminationTransform" -> ((r, _) => new ContaminationTransformStage(r)),
    "ProfileTransform" -> ((r, _) => new ProfileTransformStage(r)),
    "RetrievalTransform" -> ((r, _) => new RetrievalTransformStage(r)),
    "PiiTransform" -> ((r, _) => new PiiTransformStage(r)),
    "ClassifyTransform" -> ((r, _) => new ClassifyTransformStage(r)),
    "GraphTransform" -> ((r, _) => new GraphTransformStage(r)),
    "BehaviorTransform" -> ((r, _) => new BehaviorTransformStage(r)),
    "DataQualityTransform" -> ((r, _) => new DataQualityTransformStage(r)),
    "DriftTransform" -> ((r, _) => new DriftTransformStage(r)),
    "Snapshot" -> ((r, _) => new SnapshotStage(r)),
    "AggStateTransform" -> ((r, _) => new AggStateTransformStage(r)),
    "BloomJoinTransform" -> ((r, _) => new BloomJoinTransformStage(r)),
    "CompactFiles" -> ((r, _) => new CompactFilesStage(r)),
    "SampleTransform" -> ((r, _) => new SampleTransformStage(r)),
    "TextAnalysisTransform" -> ((r, _) => new TextAnalysisTransformStage(r)),
    "AssembleTransform" -> ((r, _) => new AssembleTransformStage(r)),
    "EncodeTransform" -> ((r, _) => new EncodeTransformStage(r)),
    "SketchTransform" -> ((r, _) => new SketchTransformStage(r)),
    "MultimodalTransform" -> ((r, _) => new MultimodalTransformStage(r)),
    "UrlTransform" -> ((r, _) => new UrlTransformStage(r)),
    "CdcTransform" -> ((r, _) => new CdcTransformStage(r)),
    "GapfillTransform" -> ((r, _) => new GapfillTransformStage(r)),
    "ZorderTransform" -> ((r, _) => new ZorderTransformStage(r)),
    "StreamingExtract" -> ((r, _) => new StreamingExtractStage(r)),
    "StreamingLoad" -> ((r, conns) => new StreamingLoadStage(r, conns))
  )

  /** Per-stage method enum (the `analysis` enum for TextAnalysisTransform):
    * the keys of each [[MethodStage]]'s arm table, read from the stage
    * built on an empty config. Derived, so an enum value without an arm,
    * or an arm without an enum value, cannot exist. Every shipped
    * operator's declarative route terminates in one of these values
    * (DeclarativeParitySpec). Lazy: `parse` never builds it.
    */
  lazy val methodEnums: Map[String, Seq[String]] =
    defaultRegistry.toSeq.flatMap { case (tpe, factory) =>
      factory(new ConfigReader(Map.empty), Map.empty) match {
        case m: MethodStage => Some(tpe -> m.methods)
        case _ => None
      }
    }.toMap

  /** Classpath-discovered [[StagePlugin]]s (ServiceLoader, ref parity:
    * META-INF/services/ai.tripl.arc.plugins.PipelineStagePlugin:1-3) of
    * the context classloader. The scan runs once per loader: the result is
    * remembered in a map weakly keyed on the loader, so a loader a test
    * installs is still honored. Its value is held softly, because plugins
    * loaded by that loader reference it and would otherwise keep the key
    * alive. A broken provider degrades to a warning, never a parse failure
    * for configs that don't use it.
    */
  def discoveredPlugins(): Seq[StagePlugin] = {
    val cl = Option(Thread.currentThread.getContextClassLoader)
      .getOrElse(classOf[StagePlugin].getClassLoader)
    pluginsByLoader.synchronized {
      Option(pluginsByLoader.get(cl)).flatMap(ref => Option(ref.get)).getOrElse {
        val found = scanPlugins(cl)
        pluginsByLoader.put(cl, new java.lang.ref.SoftReference(found))
        found
      }
    }
  }

  private val pluginsByLoader =
    new java.util.WeakHashMap[ClassLoader, java.lang.ref.SoftReference[Seq[StagePlugin]]]

  private def scanPlugins(cl: ClassLoader): Seq[StagePlugin] = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    try {
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
  private[graft] def connector(r: ConfigReader, conns: Map[String, Connector]): Connector = {
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
