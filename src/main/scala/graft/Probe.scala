package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.connect.ParquetConnector
import graft.ops.{ExtractStage, LoadStage}
import graft.pipeline._

/** Dev-only smoke probe: drives the flagship entry and the destructive-
  * write safety latch from the driver contract surface. Not part of the
  * product API.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 1. Flagship entry: driver smoke-checks rows > 0.
    val df = SparkEntry.entry(spark)
    println(s"[probe] entry rows=${df.count()}")
    df.show(10, false)

    // 2. Destructive-write latch: Overwrite without confirm.truncate must
    // fail with a DetailException carrying the stage detail.
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe").toString
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .createOrReplaceTempView("probe_nation")
    try {
      LoadStage("latch", new ParquetConnector(tmp), "probe_nation",
        "nation", SaveMode.Overwrite).run()
      println("[probe] LATCH FAILED TO TRIP")
    } catch {
      case e: DetailException =>
        println(s"[probe] latch tripped: ${e.getMessage}")
        println(s"[probe] detail keys: ${e.detail.keys.mkString(",")}")
    }
    // 3. With confirm.truncate=true the same write succeeds.
    val ok = LoadStage("latch_ok", new ParquetConnector(tmp), "probe_nation",
      "nation", SaveMode.Overwrite,
      options = Map("confirm.truncate" -> "true"))
    ok.run()
    println(s"[probe] overwrite with latch ok, files=${new java.io.File(s"$tmp/nation.parquet").list().length}")
    println(s"[probe] load recordsWritten=${ok.detail.getOrElse("recordsWritten", "-")} " +
      s"numPartitions=${ok.detail.getOrElse("numPartitions", "-")}")
    // 3b. Extract the written table back: scan metrics in the stage detail.
    val ext = ExtractStage("probe_extract", new ParquetConnector(tmp), "nation", "probe_back")
    ext.run()
    println(s"[probe] extract inputFiles=${ext.detail("inputFiles")} " +
      s"numPartitions=${ext.detail("numPartitions")}")

    // 4. Streaming load: rate source -> foreachBatch -> parquet connector.
    val sdir = java.nio.file.Files.createTempDirectory("graft_probe_stream").toString
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    val q = graft.streaming.StreamingSink.foreachBatchLoad(
      stream, new ParquetConnector(s"$sdir/data"), "rates", s"$sdir/chk")
    Thread.sleep(3000)
    q.processAllAvailable()
    q.stop()
    val sunk = spark.read.parquet(s"$sdir/data/rates.parquet").count()
    println(s"[probe] streaming foreachBatch sank rows=$sunk")

    // 4b. Session windows + running state over the same rate stream.
    val s2 = spark.readStream.format("rate").option("rowsPerSecond", "20").load()
      .withColumnRenamed("timestamp", "ts")
      .withColumn("user", (org.apache.spark.sql.functions.col("value") % 3).cast("string"))
    val q2 = graft.streaming.StreamingOps.sessionWindows(
        s2, "ts", "user", gap = "10 seconds", watermark = Some("30 seconds"))
      .writeStream.format("memory").queryName("probe_sessions")
      .outputMode("complete").start()
    Thread.sleep(2500)
    q2.processAllAvailable(); q2.stop()
    println(s"[probe] session_window rows=${spark.table("probe_sessions").count()}")

    // 5. CSV connector read-as-strings contract.
    val cdir = java.nio.file.Files.createTempDirectory("graft_probe_csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$cdir/pets.csv"), "name,age\nrex,4\nmia,2\n")
    val csv = new graft.connect.DelimitedConnector(cdir).read("pets", Map.empty)
    println(s"[probe] csv rows=${csv.count()} allStrings=${csv.schema.fields.forall(_.dataType.typeName == "string")}")
    spark.stop()
  }
}
