package graft

import java.util.concurrent.CountDownLatch

import graft.util.Fixpoint
import org.apache.spark.sql.functions.col

/** The fixpoint driver's session contract: an operator's loop runs on a
  * clone of the caller's session that carries the caller's runtime conf,
  * views and functions, takes the loop's own AQE and partition settings,
  * and never writes the caller's conf.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private val AqeKey = "spark.sql.adaptive.enabled"

  test("a loop on another thread leaves the caller's session as it was") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dumps = java.nio.file.Files.createTempDirectory("fixpoint_dumps")
    spark.conf.set(AqeKey, "true")
    spark.conf.set("spark.graft.planDumpDir", dumps.toString)
    try {
      val callerParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val before = spark.conf.getAll
      // a 40-edge chain: several pointer-jumping rounds, each a job or two
      val chain = (1L to 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val done = new CountDownLatch(1)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val loop = new Thread(() =>
        try graft.ops.Dedup.connectedComponents(chain).collect()
        catch { case t: Throwable => failure.set(t) }
        finally done.countDown())
      loop.start()
      var during = 0
      while (done.getCount > 0) {
        val q = spark.range(0, 100).groupBy(col("id") % 7).count()
        q.collect()
        val plan = q.queryExecution.executedPlan
        assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
          s"a caller query planned without AQE:\n$plan")
        val parts = plan.asInstanceOf[AdaptiveSparkPlanExec].initialPlan
          .collect { case e: ShuffleExchangeExec =>
            e.outputPartitioning.numPartitions }
        assert(parts == Seq(callerParts),
          s"a caller query shuffled into $parts partitions")
        assert(spark.conf.getAll == before, "the caller's conf changed")
        if (done.getCount > 0) during += 1
      }
      loop.join(30000)
      Option(failure.get).foreach(t => throw t)
      assert(during >= 1, "no caller query ran while the loop ran")
      assert(spark.conf.getAll == before)
      val dump = java.nio.file.Files.readString(dumps.resolve("cc_round_1.txt"))
      assert(!dump.contains("AdaptiveSparkPlan"), dump)
    } finally {
      spark.conf.unset("spark.graft.planDumpDir")
      graft.util.Caches.unpersistAll()
    }
  }

  test("the caller's conf, temp views and functions reach the loop") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try {
      GraftFunctions.register(spark)
      Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("fixpoint_view")
      val seen = Fixpoint.scoped(spark) { loop =>
        assert(loop.spark ne spark)
        assert(loop.spark.conf.get(AqeKey) == "false")
        assert(loop.spark.conf.get(key) == "-1")
        loop.spark.sql(
          "SELECT sorted_jaccard(array(x), array(2L)) AS j FROM fixpoint_view")
      }
      assert(seen.sparkSession eq spark, "the result is not the caller's")
      assert(seen.as[Double].collect().sorted.toSeq == Seq(0.0, 0.0, 1.0))
    } finally {
      spark.conf.unset(key)
      spark.catalog.dropTempView("fixpoint_view")
    }
  }

  test("a round built on the caller's session fails loudly") {
    val caller = (1 to 5).toDF("x")
    val e = intercept[IllegalArgumentException] {
      Fixpoint.scoped(spark) { loop =>
        Fixpoint.iterate(loop(caller), 3, "wrong_session")(_ =>
          caller.withColumn("x", col("x") + 1))
      }
    }
    assert(e.getMessage.contains("another session"), e.getMessage)
  }

  test("loopPartitions sizes to the state and clamps to the session") {
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions").toInt // 4 in tests
    assert(Fixpoint.loopPartitions(spark, 0L) == 1)
    assert(Fixpoint.loopPartitions(spark, 1L) == 1)
    assert(Fixpoint.loopPartitions(spark, 65536L) == 1)
    assert(Fixpoint.loopPartitions(spark, 65537L) == 2)
    // a corpus-sized state never loses the session's parallelism
    assert(Fixpoint.loopPartitions(spark, 100L * 1000 * 1000) ==
      sessionParts)
    // the rows-per-partition knob is a conf
    spark.conf.set("spark.graft.fixpoint.rowsPerPartition", "10")
    try assert(Fixpoint.loopPartitions(spark, 25L) == 3)
    finally spark.conf.unset("spark.graft.fixpoint.rowsPerPartition")
  }

  test("only util/Fixpoint.scala checkpoints") {
    // every loop's generations, and every one-shot lineage cut, go
    // through the fixpoint driver: a checkpoint call anywhere else is a
    // hand-rolled loop growing back
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val files = {
      val w = java.nio.file.Files.walk(root)
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally w.close()
    }
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val calls = for {
      f <- files if !f.endsWith(java.nio.file.Paths.get("graft/util/Fixpoint.scala"))
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*")
      if call.findFirstIn(code.split("//", 2)(0)).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(files.size > 50)
    assert(calls.isEmpty, calls.mkString("\n"))
  }
}
