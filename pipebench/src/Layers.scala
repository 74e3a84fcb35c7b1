package pipebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced requests, each a mean per request. */
final class LayerTotals(cores: Int) {
  val StageTypes = Seq("Execute", "Extract", "SqlTransform", "Load",
    "TextAnalysisTransform", "DedupTransform", "SampleTransform", "GraphTransform")

  private var stagesParsed = 0L
  private var gc = 0L
  private var files = 0L
  private var cachePeakB = 0L

  /** Block until the listener has seen no event for 200 ms (at most 10 s),
    * so the counters of the request that just ended are complete.
    */
  def waitQuiet(l: SpanListener): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var seen = -1L
    while (l.events.get != seen && System.nanoTime() < deadline) {
      seen = l.events.get
      Thread.sleep(200)
    }
  }

  def addRequest(o: Outcome, l: SpanListener): Unit = {
    stagesParsed += o.stages
    gc += o.gcMs
    files += o.written.map(Files.countDataFiles).sum
    cachePeakB += l.peakCachedBytes.get
  }

  def metrics(spans: Seq[Span], l: SpanListener, timed: Seq[(String, Double, Boolean)],
      primaryKind: String): Map[String, (Double, String)] = {
    val roots = spans.filter(_.name == "request")
    val n = math.max(1, roots.size).toDouble
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)
    def sum(ss: Seq[Span])(f: SpanCounters => Long): Long =
      ss.flatMap(s => Option(l.bySpan.get(s.id))).map(f).sum
    def named(name: String) = spans.filter(_.name == name)
    def ms(ns: Long) = ns / 1e6
    def mb(b: Long) = b / (1024.0 * 1024.0)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = out(k) = (v / n, unit)

    put("parse.ms", ms(named("parse").map(_.durNs).sum), "ms")
    put("parse.stages", stagesParsed.toDouble, "count")
    StageTypes.foreach { t =>
      val ss = named(s"stage.$t")
      val sub = ss.flatMap(subtree)
      put(s"stage.$t.self_ms", ms(ss.map(s => Tracer.selfNs(s, children(s.id))).sum), "ms")
      put(s"stage.$t.jobs", sum(sub)(_.jobs.get).toDouble, "count")
      put(s"stage.$t.task_cpu_ms", ms(sum(sub)(_.taskCpuNs.get)), "ms")
    }
    val reads = named("connect.read")
    val writes = named("connect.write")
    put("connect.read.ms", ms(reads.map(_.durNs).sum), "ms")
    put("connect.read.calls", reads.size.toDouble, "count")
    put("connect.write.ms", ms(writes.map(_.durNs).sum), "ms")
    put("connect.write.rows", sum(writes)(_.outputRows.get).toDouble, "count")
    put("connect.write.mb", mb(sum(writes)(_.outputB.get)), "MB")
    put("connect.write.files", files.toDouble, "count")
    put("connect.execute.ms", ms(named("connect.execute").map(_.durNs).sum), "ms")
    put("action.ms", ms(named("action").map(_.durNs).sum), "ms")

    val all = roots.flatMap(subtree)
    put("spark.jobs", sum(all)(_.jobs.get).toDouble, "count")
    put("spark.stages", sum(all)(_.stages.get).toDouble, "count")
    put("spark.tasks", sum(all)(_.tasks.get).toDouble, "count")
    put("spark.task_run_ms", sum(all)(_.taskRunMs.get).toDouble, "ms")
    put("spark.task_cpu_ms", ms(sum(all)(_.taskCpuNs.get)), "ms")
    put("spark.shuffle_read_mb", mb(sum(all)(_.shuffleReadB.get)), "MB")
    put("spark.shuffle_write_mb", mb(sum(all)(_.shuffleWriteB.get)), "MB")
    put("spark.spill_mb", mb(sum(all)(_.spillB.get)), "MB")
    put("spark.input_mb", mb(sum(all)(_.inputB.get)), "MB")
    put("spark.input_rows", sum(all)(_.inputRows.get).toDouble, "count")
    put("cache.peak_mb", mb(cachePeakB), "MB")
    put("gc.ms", gc.toDouble, "ms")
    // ratios are not per-request means
    val wallMs = ms(roots.map(_.durNs).sum)
    out("spark.cpu_util") =
      (if (wallMs > 0) ms(sum(all)(_.taskCpuNs.get)) / (wallMs * cores) else 0.0, "ratio")
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val prim = timed.filter(_._1 == primaryKind)
    out("trace.overhead_pct") =
      (100.0 * (median(prim.filter(_._3).map(_._2)) / median(prim.filterNot(_._3).map(_._2)) - 1.0), "%")
    out.toMap
  }
}

object Files {
  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
  }

  /** Parquet data files under a written table's directory. */
  def countDataFiles(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .count(f => f.getFileName.toString.startsWith("part-")).toLong
  }
}

/** Minimal JSON encoding for the result file and the span log. */
object Json {
  def cell(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case null => null
    case l: Long => l
    case d: Double => d
    case b: Boolean => b
    case other => other.toString
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case (a, b) => apply(Seq(a, b))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      apply(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      spans.map(s => apply(Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).asJava)
}
