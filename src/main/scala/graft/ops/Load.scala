package graft.ops

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{count, lit}
import graft.connect.Connector
import graft.pipeline._

/** Sink stage: resolve a named view and write it through the connector with
  * save-mode and pre-write repartition control; the input passes through so
  * downstream stages keep using the view.
  * (ref: load/CassandraLoad.scala:92-165.)
  *
  * Scale notes: `partitionBy` before the write is the coordinator-traffic /
  * file-clustering lever — cluster rows by the sink's partition keys so each
  * task writes dense batches; `numPartitions` alone caps write parallelism
  * (small-files control).
  *
  * Write metrics come from the write itself, so the frame executes once:
  * `recordsWritten` is the exact row count of an [[Observation]] on the
  * written frame, and `numPartitions` the task count of the stage that
  * wrote output. Either is absent when the write did not produce it (a
  * connector that never executes the frame, or a stage-less no-op write).
  */
final case class LoadStage(
    name: String,
    connector: Connector,
    inputView: String,
    table: String,
    saveMode: SaveMode = SaveMode.Overwrite,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    options: Map[String, String] = Map.empty)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "inputView" -> inputView
    detail += "table" -> table
    detail += "saveMode" -> saveMode.toString

    val df = Views.resolve(inputView)

    // Write metrics listener, attached only for the duration of the write
    // (ref: CassandraLoad.scala:105,161).
    val sc = ctx.spark.sparkContext
    val listener = new WriteMetricsListener
    sc.addSparkListener(listener)
    try {
      // Batch-only sink: skip the write entirely for a streaming view
      // (ref: CassandraLoad.scala:108-109).
      if (!df.isStreaming) {
        val observation = Observation()
        val out = Repartition(df, numPartitions, partitionBy)
        connector.write(out.observe(observation, count(lit(1))), table, saveMode, options)
        // The write posted its stage and query-end events before it
        // returned. The listener and the session's query-end listener (which
        // completes the observation) both sit on Spark's shared queue, so
        // once that queue has delivered them both have seen everything the
        // write posted; the observation itself is never waited on. The
        // bound is reached only if the bus drops events.
        if (GraftListenerBridge.awaitSharedQueue(sc, timeoutMs = 10000L)) {
          observation.future.value.flatMap(_.toOption)
            .foreach(row => detail += "recordsWritten" -> row.getLong(0))
          listener.writeTasks.foreach(n => detail += "numPartitions" -> n)
        }
      }
    } finally sc.removeSparkListener(listener)

    Option(df) // passthrough (ref: CassandraLoad.scala:163)
  }
}

/** Records the task count of the stage that wrote output during a Load
  * (ref: ListenerUtils.addStageCompletedListener usage,
  * CassandraLoad.scala:105).
  */
final class WriteMetricsListener extends SparkListener {
  @volatile var writeTasks: Option[Int] = None

  override def onStageCompleted(event: SparkListenerStageCompleted): Unit = {
    val info = event.stageInfo
    val out = info.taskMetrics.outputMetrics
    if (out.bytesWritten > 0 || out.recordsWritten > 0) writeTasks = Some(info.numTasks)
  }
}
