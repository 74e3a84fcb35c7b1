package pipebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.connect.Connector
import graft.pipeline.{Parser, PipelineContext, Runner}
import graft.util.Caches

/** Closed-loop pipeline benchmark driver: one client thread submits the
  * workload's next pipeline config only after the previous one finished.
  *
  * Starts the session, runs the first request cold (the end of set-up),
  * warms up until request times level off, measures for `--seconds` of
  * request time and verifies every measured request. The result goes to
  * `--result` as JSON; `run.py` turns it into metrics.
  */
object Main {

  private final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  private def parseArgs(a: Array[String]): Args =
    new Args(a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = cpuBean.getProcessCpuTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cores = args("cores").toInt
    val seconds = args("seconds").toDouble
    val traceOn = args.get("trace", "0") == "1"
    val workDir = args("work")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    implicit val ctx: PipelineContext = PipelineContext(spark)

    val wl = Workloads(args("workload"), args("data"), workDir,
      args("seed").toLong, args.get("repo", "."))
    val tracer = new Tracer(spark.sparkContext)
    val listener = new SpanListener
    if (traceOn) spark.sparkContext.addSparkListener(listener)

    var nextIndex = 0
    val layer = new LayerTotals(cores)

    /** Run request `seq` of the workload cold; `traced` wraps it in spans. */
    def runOne(seq: Int, traced: Boolean): Outcome = {
      Caches.unpersistAll()
      spark.catalog.clearCache()
      val index = nextIndex
      nextIndex += 1
      val req = wl.request(seq)
      val conns = wl.connectors(index)
      val written = mutable.ArrayBuffer.empty[String]
      val used: Map[String, Connector] =
        if (traced) conns.map { case (n, (c, dir)) => n -> new TracedConnector(c, tracer, dir, written) }
        else conns.map { case (n, (c, _)) => n -> c }
      val dirs: Map[Connector, String] = used.map { case (n, c) => c -> conns(n)._2 }
      def span[T](name: String)(body: => T): T = if (traced) tracer.span(name)(body) else body
      tracer.request = index
      if (traced) listener.resetPeak()
      val gc0 = gcMs
      val cpu0 = cpuNs
      val t0 = System.nanoTime()
      try {
        val (pipeline, rows, columns) = span("request") {
          val p = span("parse")(Parser.parse(req.config, used)) match {
            case Right(p) => p
            case Left(errs) => throw new IllegalArgumentException(errs.mkString("; "))
          }
          val out = Runner.run(if (traced) tracer.wrap(p) else p)
          if (wl.collects(req.kind)) {
            val df = out.getOrElse(throw new IllegalStateException("pipeline returned no frame"))
            val rows = span("action")(df.collect())
            (p, rows.toSeq.map(_.toSeq.map(Json.cell)), df.columns.toSeq)
          } else (p, Nil, Nil)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val cpu = (cpuNs - cpu0) / 1e9
        Outcome(index, req.kind, ok = true, "", secs, cpu,
          if (wl.collects(req.kind)) Workloads.replay(pipeline, dirs) else Nil,
          columns, rows, wl.outDir(index), pipeline.stages.size, gcMs - gc0,
          written.toSeq)
      } catch {
        case e: Throwable =>
          Outcome(index, req.kind, ok = false, String.valueOf(e.getMessage).take(500),
            (System.nanoTime() - t0) / 1e9, (cpuNs - cpu0) / 1e9, Nil, Nil, Nil, "")
      }
    }

    val result = mutable.LinkedHashMap.empty[String, Any]
    result("workload") = wl.name
    result("primary_kind") = wl.primaryKind
    result("write_kind") = wl.writeKind
    result("cycle") = wl.cycle

    // the first request is cold: its end closes the set-up interval
    val first = runOne(0, traced = false)
    result("setup_done_ms") = System.currentTimeMillis()

    val t0 = System.nanoTime()
    wl.prepare(spark)
    result("prepare_seconds") = (System.nanoTime() - t0) / 1e9
    val warm = Warmup.run(wl, first, seq => runOne(seq, traced = false),
      maxSeconds = math.min(seconds, Warmup.CapSeconds))
    result("warmup") = warm.map(o => Map("kind" -> o.kind, "seconds" -> o.seconds, "ok" -> o.ok))

    // timed phase: the sequence restarts at 0 and runs whole cycles of the
    // mix, so every run measures the same mix; with tracing, requests of
    // each kind alternate traced / untraced so the overhead is a same-run
    // comparison
    val timed = mutable.ArrayBuffer.empty[(Outcome, Boolean)]
    val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
    var busy = 0.0
    var seq = 0
    def enough = busy >= seconds && seq % wl.cycle == 0 &&
      (!traceOn || perKind(wl.primaryKind) >= 2)
    while (!enough) {
      val kind = wl.request(seq).kind
      val traced = traceOn && perKind(kind) % 2 == 0
      perKind(kind) += 1
      val o = runOne(seq, traced)
      if (traced) {
        layer.waitQuiet(listener)
        layer.addRequest(o, listener)
      }
      timed += ((o, traced))
      busy += o.seconds
      seq += 1
    }
    result("peak_rss_mb") = vmHwmMb

    var outcomes = timed.map(_._1).toSeq
    if (args.get("corrupt", "0") == "1") {
      val victim = outcomes.find(o => o.ok && o.kind == wl.primaryKind).get
      val damaged = wl.corrupt(spark, victim)
      outcomes = outcomes.map(o => if (o.index == victim.index) damaged else o)
    }
    val jvmFailures = wl.verifyInJvm(spark, outcomes)
    result("requests") = timed.toSeq.zip(outcomes).map { case ((_, traced), o) =>
      Map("index" -> o.index, "kind" -> o.kind, "ok" -> o.ok, "error" -> o.error,
        "seconds" -> o.seconds, "cpu_seconds" -> o.cpuSeconds, "traced" -> traced,
        "verify_error" -> jvmFailures.getOrElse(o.index, ""),
        "replay" -> o.replay, "columns" -> o.columns, "rows" -> o.rows)
    }
    if (traceOn) {
      result("per_layer") = layer.metrics(tracer.spans.toSeq, listener,
        timed.toSeq.map { case (o, t) => (o.kind, o.seconds, t) }, wl.primaryKind)
      Json.writeSpans(s"$workDir/spans.jsonl", tracer.spans.toSeq)
    }
    Json.writeFile(args("result"), result.toMap)
    spark.stop()
  }
}

/** Warm-up until the primary kind's request times stop falling: the
  * median of its last five is no lower than 97% of the median of the five
  * before, and every kind in the mix has run. Capped at `maxSeconds` of
  * request time after the first (cold) request.
  */
object Warmup {
  /** Longest warm-up, in seconds of request time; the rest of a run measures. */
  val CapSeconds = 8.0

  def run(wl: Workload, first: Outcome, runOne: Int => Outcome, maxSeconds: Double): Seq[Outcome] = {
    val done = mutable.ArrayBuffer(first)
    val kinds = (0 until wl.cycle).map(wl.request(_).kind).toSet
    def median5(xs: Seq[Double]) = xs.sorted.apply(2)
    def steady: Boolean = {
      val last = done.filter(_.kind == wl.primaryKind).map(_.seconds).takeRight(10).toSeq
      last.size == 10 && kinds.subsetOf(done.map(_.kind).toSet) &&
        median5(last.drop(5)) >= 0.97 * median5(last.take(5))
    }
    var seq = 1
    while (!steady && done.tail.map(_.seconds).sum < maxSeconds) {
      done += runOne(seq)
      seq += 1
    }
    done.toSeq
  }
}

/** Writes the DuckDB oracle statements of the gate queries the workloads'
  * twins come from, as a JSON object, for the benchmark's own tests:
  * `pipebench.OracleSql <out.json>`.
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    Json.writeFile(args(0), graft.SparkEntry.oracleSql.filter { case (k, _) =>
      Seq("curate_pretrain", "graph_cc").contains(k)
    })
}
