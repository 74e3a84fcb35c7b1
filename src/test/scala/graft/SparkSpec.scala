package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session + the reference's hash-join dataset comparator. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Run `f` and count the Spark jobs it started, once the listener bus
    * has delivered every event `f` posted.
    */
  def sparkJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val result = f
      assert(GraftListenerBridge.awaitSharedQueue(sc, 30000), "listener bus did not deliver")
      (result, started.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Full dataset equality via row hashes joined both ways — the golden
    * comparator idiom adopted from the reference's test utilities
    * (ref: datasetEquality, src/it/.../util/TestUtils.scala:88-125: sha2 of
    * to_json(struct(sorted cols)) + both-direction anti-join counts).
    */
  def datasetEquality(expected: DataFrame, actual: DataFrame): Boolean = {
    if (expected.columns.sorted.toSeq != actual.columns.sorted.toSeq) return false
    val cols = expected.columns.sorted.toSeq
    def hashed(df: DataFrame): DataFrame =
      df.select(sha2(to_json(struct(cols.map(col): _*)), 512).as("__h"))
        .groupBy("__h").agg(count(lit(1)).as("__n"))
    val l = hashed(expected).withColumnRenamed("__n", "__nl")
    val r = hashed(actual).withColumnRenamed("__n", "__nr")
    l.join(r, Seq("__h"), "full_outer")
      .where(col("__nl").isNull || col("__nr").isNull || col("__nl") =!= col("__nr"))
      .isEmpty
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
