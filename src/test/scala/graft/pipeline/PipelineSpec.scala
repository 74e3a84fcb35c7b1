package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.connect.{Connector, ParquetConnector}
import graft.ops._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.functions.broadcast

/** End-to-end pipeline behavior mirroring the reference IT suite:
  * config-string -> parse -> run -> assert round-trip
  * (ref: CassandraLoadSuite.scala:66-139), plus the negative Execute path
  * asserting error propagation through DetailException
  * (ref: CassandraExecuteSuite.scala:72-97).
  */
class PipelineSpec extends SparkSpec {

  test("e2e JSON pipeline round-trip: extract -> transform -> load -> extract") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = Files.createTempDirectory("graft_pspec").toString
    val conf = s"""{"stages": [
      {"type": "Extract", "name": "src", "table": "customer",
       "outputView": "ps_customer"},
      {"type": "SqlTransform", "name": "xform",
       "sql": "SELECT c_custkey, c_name FROM ps_customer WHERE c_custkey <= $${maxkey}",
       "sqlParams": {"maxkey": "50"}, "outputView": "ps_small"},
      {"type": "Load", "name": "sink", "connection": "tmp",
       "inputView": "ps_small", "table": "small",
       "saveMode": "Overwrite", "params": {"confirm.truncate": "true"}},
      {"type": "Extract", "name": "back", "connection": "tmp",
       "table": "small", "outputView": "ps_back"}
    ]}"""
    val Right(pipeline) = Parser.parse(conf, Map(
      "default" -> new ParquetConnector(sf001),
      "tmp" -> new ParquetConnector(tmp))): @unchecked
    val out = Runner.run(pipeline).get
    val expected = spark.read.parquet(s"$sf001/customer.parquet")
      .where("c_custkey <= 50").select("c_custkey", "c_name")
    assert(out.count() == expected.count())
    assert(datasetEquality(expected, out))
  }

  test("environments filter skips non-matching stages") {
    implicit val ctx: PipelineContext = PipelineContext(spark, environment = "test")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def probe(n: String) = new Stage {
      val name = n
      def execute()(implicit ctx: PipelineContext) = { ran += n; None }
    }
    Runner.run(Pipeline(Seq(
      StageDef(probe("always")),
      StageDef(probe("test_only"), Seq("test")),
      StageDef(probe("prod_only"), Seq("production")))))
    assert(ran.toSeq == Seq("always", "test_only"))
  }

  test("negative Execute: engine error propagates with stage detail") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val e = intercept[DetailException] {
      ExecuteStage("bad", new ParquetConnector(sf001),
        sql = "SELCT broken FROM nowhere").run()
    }
    // the engine's own parser message must surface (ref asserts Cassandra's
    // "no viable alternative" verbatim; Spark's equivalent is a syntax error)
    assert(e.getMessage.toLowerCase.contains("syntax"))
    assert(e.detail.contains("sql"), "failing statement recorded in detail")
  }

  test("immutable views: re-registering a view fails, detail preserved") {
    implicit val ctx: PipelineContext = PipelineContext(spark, immutableViews = true)
    val conn = new ParquetConnector(sf001)
    ExtractStage("one", conn, "region", "imm_region").run()
    val e = intercept[DetailException] {
      ExtractStage("two", conn, "region", "imm_region").run()
    }
    assert(e.detail("outputView") == "imm_region")
  }

  test("overwrite latch: refuses without confirm.truncate, works with it") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = Files.createTempDirectory("graft_latch").toString
    val conn = new ParquetConnector(tmp)
    ExtractStage("src", new ParquetConnector(sf001), "region", "latch_region").run()
    intercept[DetailException] {
      LoadStage("l1", conn, "latch_region", "region", SaveMode.Overwrite).run()
    }
    LoadStage("l2", conn, "latch_region", "region", SaveMode.Overwrite,
      options = Map("confirm.truncate" -> "true")).run()
    assert(ExtractStage("back", conn, "region", "latch_back").run().get.count() == 5)
  }

  test("save modes: Append accumulates, Ignore is a no-op, ErrorIfExists throws") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = Files.createTempDirectory("graft_modes").toString
    val conn = new ParquetConnector(tmp)
    ExtractStage("src", new ParquetConnector(sf001), "region", "sm_region").run()
    LoadStage("a1", conn, "sm_region", "r", SaveMode.Append).run()
    LoadStage("a2", conn, "sm_region", "r", SaveMode.Append).run()
    LoadStage("ig", conn, "sm_region", "r", SaveMode.Ignore).run()
    intercept[DetailException] {
      LoadStage("er", conn, "sm_region", "r", SaveMode.ErrorIfExists).run()
    }
    assert(ExtractStage("back", conn, "r", "sm_back").run().get.count() == 10)
  }

  test("extract metrics land in stage detail") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val st = ExtractStage("m", new ParquetConnector(sf001), "nation",
      "met_nation", persist = true)
    st.run()
    assert(st.detail("records") == 25L)
    assert(st.detail.contains("inputFiles") && st.detail.contains("numPartitions"))
    // build version is stamped into every stage's detail (ref parity:
    // BuildInfo.version, CassandraExtract.scala:15)
    assert(st.detail("version") == graft.BuildInfo.version)
    assert(graft.BuildInfo.version.nonEmpty)
  }

  private val Latch = Map("confirm.truncate" -> "true")

  /** A view whose plan broadcasts `nation` into a join with `customer`
    * under the session's AQE.
    */
  private def broadcastJoinView(view: String): DataFrame = {
    val c = spark.read.parquet(s"$sf001/customer.parquet")
    val n = spark.read.parquet(s"$sf001/nation.parquet")
    val df = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select("c_custkey", "c_name", "n_name")
    df.createOrReplaceTempView(view)
    df
  }

  test("load numPartitions is the written frame's partition count") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val conn = new ParquetConnector(Files.createTempDirectory("graft_loadparts").toString)
    spark.range(0, 1000, 1, 5).selectExpr("id", "id % 7 AS g").createOrReplaceTempView("lp_plain")
    broadcastJoinView("lp_join")
    val cases = Seq(
      ("plain", "lp_plain", None, Nil),
      ("three", "lp_plain", Some(3), Nil),
      ("byCol", "lp_plain", None, Seq("g")),
      ("join", "lp_join", None, Nil))
    cases.foreach { case (label, view, n, cols) =>
      val expected = Repartition(spark.table(view), n, cols).queryExecution.toRdd.getNumPartitions
      val st = LoadStage(label, conn, view, label, SaveMode.Overwrite, n, cols, Latch)
      st.run()
      assert(st.detail("numPartitions") == expected, label)
    }
    assert(spark.table("lp_plain").rdd.getNumPartitions == 5)
  }

  test("load recordsWritten is exact for every save mode and layout") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    spark.range(0, 500).selectExpr("id", "id % 4 AS g").createOrReplaceTempView("rw_src")
    spark.range(0, 500).where("id < 0").createOrReplaceTempView("rw_empty")
    (1 to 20).foreach { round =>
      val dir = Files.createTempDirectory("graft_loadcount").toString
      val conn = new ParquetConnector(dir)
      def written(view: String, table: String, mode: SaveMode,
          options: Map[String, String] = Map.empty): Any = {
        val st = LoadStage(s"w$round", conn, view, table, mode, options = options)
        st.run()
        st.detail.getOrElse("recordsWritten", "missing")
      }
      assert(written("rw_src", "t", SaveMode.Overwrite, Latch) == 500L, s"overwrite, round $round")
      assert(written("rw_src", "t", SaveMode.Append) == 500L, s"append, round $round")
      assert(written("rw_src", "t", SaveMode.Ignore) == 0L, s"ignore on existing, round $round")
      assert(written("rw_empty", "e", SaveMode.Overwrite, Latch) == 0L, s"empty, round $round")
      assert(written("rw_src", "p", SaveMode.Overwrite, Latch + ("disk.partitionBy" -> "g")) == 500L,
        s"partitioned, round $round")
      assert(spark.read.parquet(s"$dir/t.parquet").count() == 1000L)
    }
  }

  test("a connector that never executes the frame leaves Load without a count, promptly") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val ignoring = new Connector {
      def read(table: String, options: Map[String, String])(implicit ctx: PipelineContext) =
        ctx.spark.emptyDataFrame
      def write(df: DataFrame, table: String, mode: SaveMode, options: Map[String, String])(
          implicit ctx: PipelineContext): Unit = ()
    }
    spark.range(0, 10).createOrReplaceTempView("ig_src")
    val st = LoadStage("ignored", ignoring, "ig_src", "t", SaveMode.Append)
    val t0 = System.nanoTime()
    st.run()
    assert((System.nanoTime() - t0) / 1e9 < 5.0)
    assert(!st.detail.contains("recordsWritten"))
    assert(!st.detail.contains("numPartitions"))
  }

  test("a Load launches as many Spark jobs as a bare write of its view") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = Files.createTempDirectory("graft_loadjobs").toString
    val view = broadcastJoinView("lj_join")
    val (_, bare) = sparkJobs(view.write.mode(SaveMode.Overwrite).parquet(s"$tmp/bare"))
    val (_, load) = sparkJobs(LoadStage("lj", new ParquetConnector(tmp), "lj_join", "loaded",
      SaveMode.Overwrite, options = Latch).run())
    assert(bare >= 2, "the view broadcasts under AQE, then writes")
    assert(load == bare)
  }

  /** "logger: message" of every ERROR event logged while `body` runs. */
  private def loggedErrors(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}"): Unit
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body
    finally {
      root.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.toSeq
  }

  test("after a Load, a statement that fails analysis logs no listener error") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conn = new ParquetConnector(Files.createTempDirectory("graft_loadlog").toString)
    spark.range(0, 10).createOrReplaceTempView("ll_src")
    val st = LoadStage("ll", conn, "ll_src", "t", SaveMode.Overwrite, options = Latch)
    st.run()
    assert(st.detail("recordsWritten") == 10L)
    val errors = loggedErrors {
      intercept[AnalysisException](spark.sql("SELECT * FROM ll_no_such_view"))
      assert(GraftListenerBridge.awaitSharedQueue(spark.sparkContext, 30000L))
    }
    assert(!errors.exists(_.contains("ListenerBus")), errors.mkString("\n"))
  }
}
