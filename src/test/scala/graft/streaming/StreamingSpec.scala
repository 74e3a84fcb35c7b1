package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.connect.ParquetConnector
import graft.ops.LoadStage
import graft.pipeline._
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Real Structured Streaming coverage: the same windowed aggregation that
  * the batch oracle checks, run through a streaming source with a
  * watermark; plus the reference's batch-only streaming guards
  * (CassandraExtract.scala:92-94, CassandraLoad.scala:108-109) exercised
  * against an actual streaming frame.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("windowed event stats over a watermarked stream match batch semantics") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingOps.hourlyEventStats(stream, "ts", "event_type", "value",
      watermark = Some("2 hours"))
    val q = agg.writeStream.format("memory").queryName("stream_hourly")
      .outputMode("complete").start()
    try {
      mem.addData(
        (ts(0, 10), "click", 1.0), (ts(0, 40), "click", 2.5),
        (ts(0, 20), "view", 10.0), (ts(1, 5), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("stream_hourly")
        .select("hour_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set(
        (ts(0), "click", 2L, 3.5),
        (ts(0), "view", 1L, 10.0),
        (ts(1), "click", 1L, 4.0)))
      // late-but-inside-watermark data still lands in its window
      mem.addData((ts(0, 55), "view", 5.0))
      q.processAllAvailable()
      assert(spark.table("stream_hourly")
        .where($"event_type" === "view").as[(Timestamp, String, Long, Double)]
        .collect().toSet == Set((ts(0), "view", 2L, 15.0)))
    } finally q.stop()
  }

  test("streaming dedup keeps first-seen per key; watermark-bounded state") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "doc_id", "text")
    val out = StreamingOps.dedupStream(stream, "ts", Seq("doc_id"),
      watermark = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), 1L, "first"), (ts(0, 10), 1L, "dup"),
        (ts(0, 20), 2L, "other"))
      q.processAllAvailable()
      // duplicate of key 1 arriving in a LATER batch is also dropped
      mem.addData((ts(0, 30), 1L, "late dup"), (ts(0, 40), 3L, "new"))
      q.processAllAvailable()
      val rows = spark.table("stream_dedup")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "first"), (2L, "other"), (3L, "new")))
      // batch mirror: same call without a watermark is a plain dropDuplicates
      val batch = StreamingOps.dedupStream(
        Seq((ts(0), 1L, "first"), (ts(1), 1L, "dup")).toDF("ts", "doc_id", "text"),
        "ts", Seq("doc_id"), watermark = None)
      assert(batch.count() == 1)
    } finally q.stop()
  }

  test("narrow curation ops run unchanged on a stream (split, quality score)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // pure narrow expressions: no state, no watermark needed, and the
    // hash-based split a doc gets on the stream equals the batch one
    val out = graft.ops.TextAnalysis.qualityScore(
      graft.ops.Sampling.splitAssign(stream, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.2))
        .select("doc_id", "split", "text"),
      "doc_id", "text", Seq("ttr" -> 2.0))
    val q = out.writeStream.format("memory").queryName("stream_narrow")
      .outputMode("append").start()
    try {
      mem.addData((1L, "the cat sat"), (2L, "a b a b"))
      q.processAllAvailable()
      val streamed = spark.table("stream_narrow")
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
      val batch = graft.ops.TextAnalysis.qualityScore(
        Seq((1L, "the cat sat"), (2L, "a b a b")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("ttr" -> 2.0))
        .as[(Long, Double, Boolean)].collect()
        .map(r => r._1 -> r._2).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session_window sessionization over a stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val agg = StreamingOps.sessionWindows(
      mem.toDF().toDF("ts", "user"), "ts", "user",
      gap = "30 minutes", watermark = Some("2 hours"))
    val q = agg.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("complete").start()
    try {
      // user a: two bursts 40min apart -> 2 sessions; user b: one session
      mem.addData((ts(0, 0), "a"), (ts(0, 10), "a"), (ts(0, 50), "a"),
        (ts(1, 0), "b"))
      q.processAllAvailable()
      val rows = spark.table("stream_sessions")
        .select("key", "n_events").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(rows("a") == Seq(1L, 2L), s"two sessions for a, got $rows")
      assert(rows("b") == Seq(1L))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps a running per-key counter across batches") {
    implicit val sq = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    val mem = MemoryStream[(String, Long)]
    val counted = StreamingOps.runningCountsPerKey(mem.toDS())
    val q = counted.toDF("key", "total").writeStream.format("memory")
      .queryName("stream_counts").outputMode("update").start()
    try {
      mem.addData(("x", 1L), ("x", 2L), ("y", 3L))
      q.processAllAvailable()
      mem.addData(("x", 4L))
      q.processAllAvailable()
      val last = spark.table("stream_counts")
        .groupBy("key").agg(org.apache.spark.sql.functions.max("total").as("total"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("x" -> 3L, "y" -> 1L), s"state carried across batches: $last")
    } finally q.stop()
  }

  test("streaming throttle equals the batch operator across micro-batches") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    val mem = MemoryStream[(Long, Long, Long)] // (key, tsMicros, id)
    val kept = StreamingOps.throttleStream(mem.toDS(), gapSeconds = 100L)
    val q = kept.toDF("k", "t", "i").writeStream.format("memory")
      .queryName("stream_throttle").outputMode("append").start()
    // key 1: 0s, 50s (drop), 110s (keep: 110 >= 0+100); key 2: 5s
    val batch1 = Seq((1L, 0L, 1L), (1L, 50000000L, 2L), (2L, 5000000L, 4L))
    // later micro-batch continues the same state: 110s kept, then 150s
    // dropped (only 40s after the kept 110s), 250s kept
    val batch2 = Seq((1L, 110000000L, 3L), (1L, 150000000L, 5L),
      (1L, 250000000L, 6L))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_throttle")
        .select("i").as[Long].collect().toSet
      // batch reference over the union, via Behavior.throttle
      val all = (batch1 ++ batch2).map { case (k, t, i) =>
        (i, k, new java.sql.Timestamp(t / 1000L)) }
        .toDF("event_id", "user_id", "ts")
      val batch = graft.ops.Behavior
        .throttle(all, "ts", "user_id", "event_id", 100L)
        .select("event_id").as[Long].collect().toSet
      assert(streamed == batch,
        s"stream $streamed must equal batch $batch")
      assert(streamed == Set(1L, 3L, 4L, 6L))
    } finally q.stop()
  }

  test("foreachBatch streaming load delivers micro-batches through the batch connector") {
    implicit val sq = spark.sqlContext
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fbl").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingSink.foreachBatchLoad(
      mem.toDF().toDF("id", "payload"),
      new ParquetConnector(s"$tmp/data"), "sunk", s"$tmp/chk")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$tmp/data/sunk.parquet")
      assert(back.count() == 3, "both micro-batches appended")
    } finally q.stop()
  }

  test("foreachBatch IVF append across micro-batches equals the one-shot " +
      "batch append (frozen centroids, split-invariant end state)") {
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(1818)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val base = vecs(0 until 60)
    val tmpA = java.nio.file.Files.createTempDirectory("graft_sivf_a").toString
    val tmpB = java.nio.file.Files.createTempDirectory("graft_sivf_b").toString
    val laterDf = vecs(1000 until 1030)
    // batch path
    graft.ops.Similarity.ivfWrite(base, tmpA, centroidEvery = 20,
      options = Map("confirm.truncate" -> "true"))
    graft.ops.Similarity.ivfAppend(spark, tmpA, laterDf)
    // streaming path: same rows in 3 micro-batches
    graft.ops.Similarity.ivfWrite(base, tmpB, centroidEvery = 20,
      options = Map("confirm.truncate" -> "true"))
    val mem = MemoryStream[(Long, Array[Float])]
    // checkpoint in its OWN per-run temp dir: a fixed /tmp sibling (the
    // old `$tmpB/../graft_sivf_chk`) survives across JVM runs, and a
    // stale committed offset against a fresh MemoryStream kills the
    // query with the sliceStart/sliceEnd assertion
    val chk = java.nio.file.Files
      .createTempDirectory("graft_sivf_chk").toString
    val q = StreamingSink.foreachBatchIvfAppend(
      mem.toDF().toDF("vec_id", "embedding"), tmpB, s"$chk/chk")
    try {
      val rows = laterDf.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray))
      rows.grouped(10).foreach { g =>
        mem.addData(g.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val queries = base.where($"vec_id" < 3)
    def served(dir: String) = graft.ops.Similarity
      .ivfQueryIndex(spark, dir, queries, k = 4, probes = 2)
      .collect().map(_.toString).toSet
    assert(served(tmpA) == served(tmpB))
    graft.util.Caches.unpersistAll()
  }

  test("stream-static enrichment: a broadcastable dim joins each micro-batch") {
    implicit val sq = spark.sqlContext
    val dim = Seq(("click", 1.0), ("view", 0.1)).toDF("event_type", "weight")
    val mem = MemoryStream[(Timestamp, String)]
    val enriched = StreamingOps.enrichStream(
      mem.toDF().toDF("ts", "event_type"), dim, "event_type")
    val q = enriched.writeStream.format("memory").queryName("stream_enrich")
      .outputMode("append").start()
    try {
      mem.addData((ts(0), "click"), (ts(1), "view"), (ts(2), "scroll"))
      q.processAllAvailable()
      mem.addData((ts(3), "click")) // second micro-batch re-joins the dim
      q.processAllAvailable()
      val rows = spark.table("stream_enrich")
        .select("event_type", "weight")
        .as[(String, Option[Double])].collect().toSeq
      assert(rows.count(_ == ("click", Some(1.0))) == 2)
      assert(rows.contains(("view", Some(0.1))))
      assert(rows.contains(("scroll", None)), "unmatched keys keep null weight")
    } finally q.stop()
  }

  test("stream-stream join matches within horizon across micro-batches") {
    implicit val sq = spark.sqlContext
    val lmem = MemoryStream[(Timestamp, Long, Long)]
    val rmem = MemoryStream[(Timestamp, Long, Long)]
    val clicks = lmem.toDF().toDF("click_ts", "user_id", "click_id")
    val buys = rmem.toDF().toDF("purchase_ts", "user_id", "purchase_id")
    val joined = StreamingOps.joinStreams(clicks, buys, "user_id",
      "click_ts", "purchase_ts", horizon = "1 HOUR",
      watermark = Some("24 hours"))
    val q = joined.select("user_id", "click_id", "purchase_id")
      .writeStream.format("memory").queryName("stream_join")
      .outputMode("append").start()
    try {
      // click arrives first; matching purchase only in a LATER batch, so
      // the pair must come out of the join state store
      lmem.addData((ts(1, 0), 7L, 100L))
      rmem.addData((ts(0, 30), 7L, 200L)) // before the click: no match
      q.processAllAvailable()
      rmem.addData((ts(1, 30), 7L, 201L)) // inside [click, click+1h]
      rmem.addData((ts(2, 30), 7L, 202L)) // past the horizon: no match
      lmem.addData((ts(2, 0), 8L, 101L))  // other user
      rmem.addData((ts(2, 15), 8L, 203L))
      q.processAllAvailable()
      val rows = spark.table("stream_join")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((7L, 100L, 201L), (8L, 101L, 203L)))
      // horizon boundary is inclusive
      lmem.addData((ts(3, 0), 9L, 102L))
      rmem.addData((ts(4, 0), 9L, 204L))
      q.processAllAvailable()
      assert(spark.table("stream_join").as[(Long, Long, Long)]
        .collect().toSet.contains((9L, 102L, 204L)))
    } finally q.stop()
  }

  test("batch-only guards: streaming extract yields empty, load skips write") {
    implicit val sq = spark.sqlContext
    // Extract guard
    implicit val ctx: PipelineContext = PipelineContext(spark, isStreaming = true)
    val df = graft.ops.ExtractStage("sg", new ParquetConnector(sf001),
      "lineitem", "stream_guard_li").run().get
    assert(df.isEmpty)

    // Load guard: a genuinely streaming input view is skipped, not written
    val mem = MemoryStream[Int]
    mem.toDF().createOrReplaceTempView("stream_guard_in")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sg").toString
    val batchCtx = PipelineContext(spark)
    LoadStage("sgload", new ParquetConnector(tmp), "stream_guard_in",
      "never", SaveMode.Append).run()(batchCtx)
    assert(!new java.io.File(s"$tmp/never.parquet").exists(),
      "streaming view must not be written by the batch sink")
  }

  test("declarative streaming: StreamingExtract + StreamingLoad from " +
      "parsed HOCON drain micro-batches through the batch connector") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dstr").toString
    // three source files -> three micro-batches at maxFilesPerTrigger=1
    (0 until 3).foreach { i =>
      Seq((i * 10L, s"p$i"), (i * 10L + 1L, s"q$i")).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    }
    val conf = s"""
      stages = [
        { type = StreamingExtract, name = src
          inputDir = "$tmp/in"
          maxFilesPerTrigger = 1
          outputView = dstr_in }
        { type = StreamingLoad, name = sink, method = load
          inputView = dstr_in, outputView = dstr_done
          checkpointDir = "$tmp/chk"
          table = sunk, saveMode = Append }
      ]"""
    val conns: Map[String, graft.connect.Connector] =
      Map("default" -> new ParquetConnector(s"$tmp/data"))
    val out = Parser.parse(conf, conns) match {
      case Left(errs) => fail(errs.mkString("; "))
      case Right(p)   => Runner.run(p).get
    }
    val summary = out.collect().head
    assert(summary.getAs[Long]("n_batches") == 3L,
      s"expected 3 micro-batches, got $summary")
    assert(summary.getAs[Long]("n_rows") == 6L)
    val back = spark.read.parquet(s"$tmp/data/sunk.parquet")
    assert(back.count() == 6L)
    assert(back.select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 10L, 11L, 20L, 21L))
    // exactly-once across reruns: the checkpoint holds the drained
    // offsets, so rerunning the same config appends NOTHING new
    val ctx2 = PipelineContext(spark)
    Parser.parse(conf, conns) match {
      case Left(errs) => fail(errs.mkString("; "))
      case Right(p)   => Runner.run(p)(ctx2)
    }
    assert(spark.read.parquet(s"$tmp/data/sunk.parquet").count() == 6L,
      "rerun after drain must not double-append")
  }

  test("declarative streaming config errors: missing table/indexDir, " +
      "and a batch view into StreamingLoad refuses") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dstr2").toString
    val conns: Map[String, graft.connect.Connector] =
      Map("default" -> new ParquetConnector(s"$tmp/data"))
    def parseErrs(body: String): List[String] =
      Parser.parse(s"stages = [ $body ]", conns) match {
        case Left(errs) => errs.map(_.toString)
        case Right(_)   => Nil
      }
    assert(parseErrs("""{ type = StreamingLoad, name = s, method = load
        inputView = v, outputView = o, checkpointDir = "/tmp/c" }""")
      .exists(_.contains("table")))
    assert(parseErrs("""{ type = StreamingLoad, name = s
        method = ivf_append
        inputView = v, outputView = o, checkpointDir = "/tmp/c" }""")
      .exists(_.contains("indexDir")))
    // a BATCH view into the streaming sink is a wiring error, loudly
    Seq((1L, "x")).toDF("id", "payload").createOrReplaceTempView("dstr_b")
    Views.register(spark.table("dstr_b"), "dstr_batch")
    val Right(p) = Parser.parse(s"""stages = [ { type = StreamingLoad, name = s
        method = load, inputView = dstr_batch, outputView = o
        checkpointDir = "$tmp/chk", table = t } ]""", conns): @unchecked
    val stage = p.stages.head.stage
    val ex = intercept[DetailException] { stage.run() }
    assert(ex.getMessage.contains("batch"), ex.getMessage)
  }

  test("declarative streaming drift monitor: micro-batched binned " +
      "partials replay the batch PSI bit-for-bit") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdmon").toString
    val ref = (1 to 100).map(i => i.toDouble).toDF("v")
    val cur = (1 to 100).map(i => i.toDouble + 40).toDF("v")
    ref.write.parquet(s"$tmp/data/refdata.parquet")
    // three source files -> three micro-batches
    (0 until 3).foreach { i =>
      cur.where($"v".cast("long") % 3 === i)
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    }
    val conf = s"""
      stages = [
        { type = Extract, name = ref, table = refdata
          outputView = sdm_ref }
        { type = StreamingExtract, name = src
          inputDir = "$tmp/in"
          maxFilesPerTrigger = 1
          outputView = sdm_in }
        { type = StreamingLoad, name = mon, method = drift_append
          inputView = sdm_in, outputView = sdm_psi
          checkpointDir = "$tmp/chk"
          referenceView = sdm_ref, valueCol = v, nBins = 4
          storeDir = "$tmp/store" }
      ]"""
    val conns: Map[String, graft.connect.Connector] =
      Map("default" -> new ParquetConnector(s"$tmp/data"))
    val out = Parser.parse(conf, conns) match {
      case Left(errs) => fail(errs.mkString("; "))
      case Right(p)   => Runner.run(p).get
    }
    val streamed = out.orderBy("bin").collect().map(_.toString).toSeq
    val batch = graft.ops.Drift.psi(ref, cur, "v", nBins = 4)
      .orderBy("bin").collect().map(_.toString).toSeq
    assert(streamed == batch,
      s"streamed PSI must equal batch PSI:\n$streamed\nvs\n$batch")
    // the store held only compact partials, never the raw stream
    val store = spark.read.parquet(s"$tmp/store")
    assert(store.count() <= 3 * 4, "at most nBins rows per micro-batch")
    assert(store.columns.toSet == Set("bin", "n", "batch_id"))
    // parse-time guards
    def parseErrs2(body: String): Seq[String] =
      Parser.parse(s"stages = [ $body ]", conns) match {
        case Left(errs) => errs.map(_.toString)
        case Right(_)   => Nil
      }
    assert(parseErrs2("""{ type = StreamingLoad, name = s
        method = drift_append
        inputView = v, outputView = o, checkpointDir = "/tmp/c"
        referenceView = r }""").exists(_.contains("storeDir")))
    assert(parseErrs2("""{ type = StreamingLoad, name = s
        method = drift_append
        inputView = v, outputView = o, checkpointDir = "/tmp/c"
        storeDir = "/tmp/s" }""").exists(_.contains("referenceView")))
    graft.util.Caches.unpersistAll()
  }
}
