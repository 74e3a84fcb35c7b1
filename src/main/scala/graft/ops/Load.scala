package graft.ops

import java.util.UUID
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
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
  * `recordsWritten` is the exact row count observed (`observe`, under a
  * name unique to this Load) on the written frame, and `numPartitions` the
  * task count of the stage that wrote output. Either is absent when the
  * write did not produce it (a connector that never executes the frame,
  * or a stage-less no-op write).
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
    val listener = new WriteMetricsListener(s"graft_load_${UUID.randomUUID()}")
    sc.addSparkListener(listener)
    ctx.spark.listenerManager.register(listener)
    try {
      // Batch-only sink: skip the write entirely for a streaming view
      // (ref: CassandraLoad.scala:108-109).
      if (!df.isStreaming) {
        val out = Repartition(df, numPartitions, partitionBy)
        connector.write(out.observe(listener.observed, count(lit(1))), table, saveMode, options)
        // The write posted its stage and query-end events before it
        // returned. Both sides of the listener (the SparkContext's and the
        // session's query-end bus) sit on Spark's shared queue, so once
        // that queue has delivered them the listener has seen everything
        // the write posted. The bound is reached only if the bus drops
        // events.
        if (GraftListenerBridge.awaitSharedQueue(sc, timeoutMs = 10000L)) {
          listener.recordsWritten.foreach(n => detail += "recordsWritten" -> n)
          listener.writeTasks.foreach(n => detail += "numPartitions" -> n)
        }
      }
    } finally {
      ctx.spark.listenerManager.unregister(listener)
      sc.removeSparkListener(listener)
    }

    Option(df) // passthrough (ref: CassandraLoad.scala:163)
  }
}

/** Records, during a Load, the task count of the stage that wrote output
  * (ref: ListenerUtils.addStageCompletedListener usage,
  * CassandraLoad.scala:105) and the row count observed under the name
  * `observed` by the query that succeeded with it. It is registered only
  * for the duration of the write and does nothing for a failed query, so
  * a statement that later fails analysis on the session never reaches it.
  */
final class WriteMetricsListener(val observed: String)
    extends SparkListener with QueryExecutionListener {
  @volatile var writeTasks: Option[Int] = None
  @volatile var recordsWritten: Option[Long] = None

  override def onStageCompleted(event: SparkListenerStageCompleted): Unit = {
    val info = event.stageInfo
    val out = info.taskMetrics.outputMetrics
    if (out.bytesWritten > 0 || out.recordsWritten > 0) writeTasks = Some(info.numTasks)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.get(observed).foreach(row => recordsWritten = Some(row.getLong(0)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
