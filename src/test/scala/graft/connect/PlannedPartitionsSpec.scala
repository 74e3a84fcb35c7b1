package graft.connect

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import graft.ops.ExtractStage
import graft.pipeline.PipelineContext
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Extract's `numPartitions` detail ([[PlannedPartitions]]) equals what
  * `toRdd.getNumPartitions` of the same view returns, over file layouts,
  * formats and split settings, on a memo miss and a memo hit, and on every
  * fallback path; and a plain or count-repartitioned Extract executes
  * nothing to find it.
  */
class PlannedPartitionsSpec extends SparkSpec {

  private val Latch = Map("confirm.truncate" -> "true")

  /** The split settings the file-scan count depends on. */
  private val SplitConfs: Seq[(String, Map[String, String])] = Seq(
    "default" -> Map.empty,
    "maxPartitionBytes 64 KiB" -> Map("spark.sql.files.maxPartitionBytes" -> "65536"),
    "openCostInBytes 1 KiB" -> Map("spark.sql.files.openCostInBytes" -> "1024"),
    "minPartitionNum 16" -> Map("spark.sql.files.minPartitionNum" -> "16"),
    "maxPartitionBytes 300000, openCostInBytes 0" -> Map(
      "spark.sql.files.maxPartitionBytes" -> "300000",
      "spark.sql.files.openCostInBytes" -> "0"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def freshCount(view: String): Int =
    spark.table(view).queryExecution.toRdd.getNumPartitions

  /** Run an Extract and return its `numPartitions` detail next to a fresh
    * `toRdd` count of the view it published.
    */
  private def extracted(conn: Connector, table: String, options: Map[String, String] = Map.empty,
      numPartitions: Option[Int] = None, partitionBy: Seq[String] = Nil)(
      implicit ctx: PipelineContext): (Int, Int) = {
    val view = s"pp_${table}_${numPartitions.getOrElse(0)}_${partitionBy.size}"
    val st = ExtractStage("pp", conn, table, view, numPartitions, partitionBy, options = options)
    st.run()
    (st.detail("numPartitions").asInstanceOf[Int], freshCount(view))
  }

  /** (label, connector, table): every layout the file-scan count covers. */
  private lazy val layouts: Seq[(String, Connector, String)] = {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val dir = Files.createTempDirectory("graft_planned").toString
    val parquet = new ParquetConnector(dir)
    val csv = new DelimitedConnector(dir)
    val lineitem = spark.read.parquet(s"$sf001/lineitem.parquet")
    parquet.write(lineitem.repartition(40), "small_files", SaveMode.Overwrite, Latch)
    parquet.write(lineitem.coalesce(1), "one_file", SaveMode.Overwrite, Latch)
    parquet.write(lineitem.repartition(3), "dirs", SaveMode.Overwrite,
      Latch + ("disk.partitionBy" -> "l_returnflag"))
    parquet.write(lineitem.where("false"), "empty", SaveMode.Overwrite, Latch)
    new OrcConnector(dir).write(lineitem.repartition(4), "orc", SaveMode.Overwrite, Latch)
    csv.write(lineitem.repartition(3), "csv", SaveMode.Overwrite, Latch)
    csv.write(lineitem.coalesce(1), "gzip", SaveMode.Overwrite, Latch + ("compression" -> "gzip"))
    new JsonConnector(dir).write(lineitem.repartition(2), "json", SaveMode.Overwrite, Latch)
    val written = Seq(
      ("many small files", parquet, "small_files"),
      ("one file that splits", parquet, "one_file"),
      ("disk.partitionBy dirs", parquet, "dirs"),
      ("empty table", parquet, "empty"),
      ("ORC", new OrcConnector(dir), "orc"),
      ("CSV", csv, "csv"),
      ("gzip CSV", csv, "gzip"),
      ("JSON", new JsonConnector(dir), "json"))
    val tables = new ParquetConnector(sf001)
    written ++ Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier")
      .map(t => (s"sf0.001 $t", tables, t))
  }

  test("a file-scan Extract counts what toRdd counts, on a memo miss and a memo hit") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val counts = for {
      (confLabel, conf) <- SplitConfs
      (label, conn, table) <- layouts
    } yield withConf(conf) {
      // the conf is part of the schema memo's key: the first read under
      // it misses, the second hits and, for a footer format, runs no job
      Seq("miss", "hit").map { read =>
        val ((detail, expected), jobs) = sparkJobs(extracted(conn, table))
        assert(detail == expected, s"$label, $confLabel, $read")
        if (read == "hit" && !conn.isInstanceOf[DelimitedConnector] &&
            !conn.isInstanceOf[JsonConnector])
          assert(jobs == 0, s"$label, $confLabel: memo hit")
        (label, confLabel, detail)
      }
    }
    val byCase = counts.flatten.map { case (l, c, n) => (l, c) -> n }.toMap
    // the settings move the count, so equality is not between constants
    def moves(label: String, conf: String) =
      assert(byCase((label, conf)) > byCase((label, "default")), s"$label, $conf")
    moves("one file that splits", "maxPartitionBytes 64 KiB")
    moves("many small files", "maxPartitionBytes 64 KiB")
    moves("CSV", "maxPartitionBytes 64 KiB")
    moves("disk.partitionBy dirs", "minPartitionNum 16")
    moves("sf0.001 nation", "maxPartitionBytes 300000, openCostInBytes 0")
    assert(SplitConfs.forall { case (c, _) => byCase(("gzip CSV", c)) == 1 }, "gzip does not split")
  }

  /** Broadcast blocks stored while `f` runs. */
  private def broadcasts(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new AtomicInteger
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isBroadcast) seen.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      f
      assert(GraftListenerBridge.awaitSharedQueue(sc, 30000L))
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  test("the file-scan count builds no file reader") {
    val df = spark.read.parquet(s"$sf001/lineitem.parquet")
    // building the reader broadcasts the Hadoop configuration
    assert(broadcasts(PlannedPartitions.count(df)) == 0)
    assert(broadcasts(df.queryExecution.toRdd) > 0)
  }

  test("fallbacks and explicit counts agree with toRdd") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val dir = Files.createTempDirectory("graft_planned_fallback").toString
    val parquet = new ParquetConnector(dir)
    val lineitem = spark.read.parquet(s"$sf001/lineitem.parquet")
    parquet.write(lineitem, "bkt", SaveMode.Overwrite,
      Latch + ("bucket.by" -> "l_orderkey") + ("bucket.n" -> "6"))
    parquet.write(lineitem, "plain", SaveMode.Overwrite, Latch)
    parquet.write(lineitem.where("false"), "empty", SaveMode.Overwrite, Latch)
    val ranged = new Connector {
      def read(table: String, options: Map[String, String])(implicit ctx: PipelineContext) =
        ctx.spark.range(0, 1000, 1, 7).toDF()
      def write(df: DataFrame, table: String, mode: SaveMode, options: Map[String, String])(
          implicit ctx: PipelineContext): Unit = ()
    }
    val cases = Seq(
      ("bucket.table", extracted(parquet, "bkt", Map("bucket.table" -> "true"))),
      ("partitionBy, no count", extracted(parquet, "plain", partitionBy = Seq("l_returnflag"))),
      ("not a file scan", extracted(ranged, "range")),
      ("numPartitions 3", extracted(parquet, "plain", numPartitions = Some(3))),
      ("numPartitions 3 + partitionBy",
        extracted(parquet, "plain", numPartitions = Some(3), partitionBy = Seq("l_returnflag"))),
      ("numPartitions 3, empty table", extracted(parquet, "empty", numPartitions = Some(3))))
    cases.foreach { case (label, (detail, expected)) => assert(detail == expected, label) }
    assert(cases.toMap.apply("not a file scan") == ((7, 7)))
    assert(cases.toMap.apply("numPartitions 3") == ((3, 3)))
  }

  test("Extracts with a count or of an unchanged table launch no Spark job under AQE") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val conn = new ParquetConnector(Files.createTempDirectory("graft_planned_jobs").toString)
    conn.write(spark.read.parquet(s"$sf001/orders.parquet"), "orders", SaveMode.Overwrite, Latch)
    ExtractStage("warm", conn, "orders", "pj_warm").run() // remembers the schema
    def jobs(n: Option[Int], cols: Seq[String]): Int =
      sparkJobs(ExtractStage("pj", conn, "orders", "pj_orders", n, cols).run())._2
    assert(jobs(None, Nil) == 0, "plain")
    assert(jobs(Some(3), Nil) == 0, "numPartitions = 3")
    assert(jobs(Some(3), Seq("o_orderstatus")) == 0, "numPartitions = 3 with partitionBy")
  }
}
