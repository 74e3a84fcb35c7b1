package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.connect.Connector
import graft.pipeline._

/** Declarative streaming surface (round 19) — closes the one
  * DeclarativeParitySpec exception: the foreachBatch sinks were
  * gate-proven but a config-only user (the reference's entire
  * contract) could not declare them. Two stage types:
  *
  *  - [[StreamingExtractStage]] (`type = StreamingExtract`): registers
  *    a file-source STREAMING view over a parquet directory (schema
  *    pinned from one batch footer read; `maxFilesPerTrigger` sets the
  *    micro-batch granularity).
  *  - [[StreamingLoadStage]] (`type = StreamingLoad`): drives a
  *    streaming view into a sink via the existing foreachBatch paths —
  *    `method = load` (connector table, [[StreamingSink
  *    .foreachBatchLoad]]) or `method = ivf_append` (persisted IVF
  *    index maintenance, [[StreamingSink.foreachBatchIvfAppend]]).
  *
  * DRAIN SEMANTICS: the declarative runner is synchronous, so the load
  * stage processes ALL AVAILABLE input (every micro-batch the source
  * can form now), then stops — the pipeline completes and downstream
  * stages read the sink's final state. A resident deployment calls the
  * StreamingSink API directly and keeps the query handle; exactly-once
  * across runs comes from the checkpointed offsets either way (a rerun
  * of the same config resumes AFTER the drained offsets — new files
  * only, never a double-append).
  */
final class StreamingExtractStage(r: ConfigReader) extends ConfiguredStage(r) {
  val inputDir = r.requiredString("inputDir")
  val outputView = r.requiredString("outputView")
  val maxFilesPerTrigger = r.int("maxFilesPerTrigger").getOrElse(1)

  protected def describe = Seq("inputDir" -> inputDir, "outputView" -> outputView)

  protected def output()(implicit ctx: PipelineContext): DataFrame = {
    require(maxFilesPerTrigger >= 1,
      s"maxFilesPerTrigger must be >= 1, got $maxFilesPerTrigger")
    val spark = ctx.spark
    // streaming file sources need a user schema: pin it from the batch
    // footer of the same directory (one metadata read, no data scan)
    val schema = spark.read.parquet(inputDir).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(inputDir)
  }
}

final class StreamingLoadStage(r: ConfigReader, connectors: Map[String, Connector])
    extends TransformStage(r) {
  val method: String = select("method", "load")
  val checkpointDir = r.requiredString("checkpointDir")
  // the connection resolves only when method=load actually needs it
  // (ivf_append writes through the index path, not a connector)
  val connector: Option[Connector] =
    if (method == "load") Some(Parser.connector(r, connectors)) else None
  if (method == "load" && r.string("table").isEmpty)
    r.error("table", "missing; load requires a sink table")
  val table = r.string("table").getOrElse("")
  val saveMode = SaveMode.valueOf(
    r.oneOf("saveMode", Seq("Append", "ErrorIfExists", "Ignore", "Overwrite"), "Append"))
  if (method == "ivf_append" && r.string("indexDir").isEmpty)
    r.error("indexDir", "missing; ivf_append requires the index directory")
  val indexDir = r.string("indexDir").getOrElse("")
  // drift_append: frozen-bounds PSI monitor (reference view fits the
  // bounds; the output view carries the final PSI table)
  if (method == "drift_append" && r.string("referenceView").isEmpty)
    r.error("referenceView", "missing; drift_append fits bounds on it")
  val referenceView = r.string("referenceView").getOrElse("")
  val valueCol = r.string("valueCol").getOrElse("value")
  val nBins = r.int("nBins").getOrElse(10)
  if (method == "drift_append" && r.string("storeDir").isEmpty)
    r.error("storeDir", "missing; drift_append requires the partial store")
  val storeDir = r.string("storeDir").getOrElse("")
  val options = r.stringMap("params")

  override protected def describe = Seq("inputView" -> inputView,
    "outputView" -> outputView, "method" -> method, "checkpointDir" -> checkpointDir)

  // the inverse of the batch Load guard (reference skips streaming
  // inputs): this stage exists FOR them, and a batch view here means the
  // config wired the wrong stage type
  override protected def input(implicit ctx: PipelineContext): DataFrame = {
    val in = Views.resolve(inputView)
    require(in.isStreaming,
      s"StreamingLoad '$name': input view '$inputView' is a batch " +
        "view — use the batch Load stage for batch inputs")
    in
  }

  /** Bounded drain (see the file Scaladoc): run everything available,
    * then stop; the progress counters become the stage's summary row.
    */
  private def drain(q: StreamingQuery)(implicit ctx: PipelineContext): DataFrame = {
    try q.processAllAvailable() finally q.stop()
    val progress = q.recentProgress
    val nBatches = progress.count(_.numInputRows > 0).toLong
    val nRows = progress.map(_.numInputRows).sum
    detail += "batches" -> nBatches
    detail += "rows" -> nRows
    val spark = ctx.spark
    import spark.implicits._
    Seq((nBatches, nRows)).toDF("n_batches", "n_rows")
  }

  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)] = Seq(
    "load" -> { in =>
      val conn = connector.getOrElse(throw new IllegalArgumentException(
        "StreamingLoad method=load requires a connection"))
      require(table.nonEmpty, "StreamingLoad method=load requires table")
      detail += "table" -> table
      drain(StreamingSink.foreachBatchLoad(in, conn, table, checkpointDir,
        saveMode, options, OutputMode.Append()))
    },
    "ivf_append" -> { in =>
      require(indexDir.nonEmpty,
        "StreamingLoad method=ivf_append requires indexDir")
      detail += "indexDir" -> indexDir
      drain(StreamingSink.foreachBatchIvfAppend(in, indexDir, checkpointDir))
    },
    // frozen-bounds streaming PSI monitor: micro-batches append
    // nBins-row binned partials; the final PSI table becomes the stage's
    // output view
    "drift_append" -> { in =>
      require(storeDir.nonEmpty,
        "StreamingLoad method=drift_append requires storeDir")
      require(referenceView.nonEmpty,
        "StreamingLoad method=drift_append requires referenceView")
      val refV = Views.resolve(referenceView)
      require(!refV.isStreaming,
        s"StreamingLoad '$name': referenceView must be a batch view")
      detail += "storeDir" -> storeDir
      val interior = graft.ops.Drift.psiInteriorBounds(refV, valueCol, nBins)
      drain(StreamingSink.foreachBatchDriftAppend(in, valueCol, interior,
        nBins, storeDir, checkpointDir))
      // the monitor's deliverable IS the final PSI table — replay the
      // accumulated store against the reference under the same bounds
      graft.ops.Drift.psiFromBinStore(refV, valueCol, interior,
        ctx.spark.read.parquet(storeDir), nBins)
    })
}
