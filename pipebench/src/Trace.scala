package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.connect.Connector
import graft.pipeline.{Pipeline, PipelineContext, Stage}

/** One timed interval of a traced request. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, request: Int, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span: the jobs its thread ran while it was
  * the innermost open span (the job group is the span id).
  */
final class SpanCounters {
  val jobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs = new AtomicLong
  val shuffleReadB, shuffleWriteB, spillB, inputB, inputRows = new AtomicLong
  val outputB, outputRows = new AtomicLong
}

/** Groups job, stage and task metrics by the job group the tracer sets
  * around each span, and tracks the bytes of cached RDD blocks.
  */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private val cachedBytes = new AtomicLong
  val peakCachedBytes = new AtomicLong
  /** Events handled so far; the bench waits for it to stop moving. */
  val events = new AtomicLong

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt)

  private def counters(span: Int) =
    bySpan.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    spanOf(e.properties).foreach { s =>
      counters(s).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = events.incrementAndGet(): Unit

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      counters(s).stages.incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counters(s)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputB.addAndGet(m.inputMetrics.bytesRead)
        c.inputRows.addAndGet(m.inputMetrics.recordsRead)
        c.outputB.addAndGet(m.outputMetrics.bytesWritten)
        c.outputRows.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    events.incrementAndGet()
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = info.memSize + info.diskSize
      val before = Option(blockBytes.put(info.blockId.name, now)).getOrElse(0L)
      val total = cachedBytes.addAndGet(now - before)
      peakCachedBytes.accumulateAndGet(total, math.max(_, _))
    }
  }

  /** Start a new peak window at the bytes cached now. */
  def resetPeak(): Unit = peakCachedBytes.set(cachedBytes.get)
}

/** Span recorder for the single client thread. Each span sets the Spark
  * job group to its id, so the jobs it launches are attributed to it; the
  * enclosing span's group is restored when it ends.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  var request: Int = -1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name, System.nanoTime()))
    sc.setJobGroup(Tracer.GroupPrefix + id, name)
    try body
    finally {
      val (_, _, t0) = open.pop()
      spans += Span(id, parent, request, name, t0, System.nanoTime())
      open.headOption match {
        case Some((pid, pname, _)) => sc.setJobGroup(Tracer.GroupPrefix + pid, pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wrap every stage of `p` so each `Stage.run` is a span. */
  def wrap(p: Pipeline): Pipeline =
    p.copy(stages = p.stages.map(sd => sd.copy(stage = new TracedStage(sd.stage, this))))
}

object Tracer {
  val GroupPrefix = "pipebench-span-"

  /** Stage type as written in a config: `ExtractStage` -> `Extract`. */
  def stageType(s: Stage): String = s.getClass.getSimpleName.stripSuffix("Stage")

  /** Wall time of `s` not covered by its children (children of one span
    * run one after another on the client thread, so they never overlap).
    */
  def selfNs(s: Span, children: Seq[Span]): Long = s.durNs - children.map(_.durNs).sum
}

/** Delegating stage: runs `inner` inside a `stage.<Type>` span. */
final class TracedStage(inner: Stage, tracer: Tracer) extends Stage {
  override def name: String = inner.name
  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] =
    tracer.span("stage." + Tracer.stageType(inner))(inner.run())
}

/** Delegating connector: each call is a `connect.*` span. `written` gets
  * every table path a write produced, so the bench can count its files.
  */
final class TracedConnector(inner: Connector, tracer: Tracer, baseDir: String,
    written: mutable.Buffer[String]) extends Connector {
  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    tracer.span("connect.read")(inner.read(table, options))

  override def write(df: DataFrame, table: String, mode: SaveMode,
      options: Map[String, String])(implicit ctx: PipelineContext): Unit =
    tracer.span("connect.write") {
      inner.write(df, table, mode, options)
      written += s"$baseDir/$table.parquet"
    }

  override def execute(statement: String, params: Map[String, String])(
      implicit ctx: PipelineContext): Unit =
    tracer.span("connect.execute")(inner.execute(statement, params))
}
