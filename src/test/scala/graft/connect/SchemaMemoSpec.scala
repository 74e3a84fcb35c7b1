package graft.connect

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import graft.SparkSpec
import graft.ops.ExtractStage
import graft.pipeline.PipelineContext
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The footer-schema memo behind `ParquetConnector.read` and
  * `OrcConnector.read`: a re-read of an unchanged table launches no
  * inference job, and any change to the files, the options or the
  * session conf reads with inference again.
  */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private val Latch = Map("confirm.truncate" -> "true")

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  private def dataFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).toSeq

  /** Same schema and same rows as a plain inferred read of `path`. */
  private def assertSameAsInferred(df: DataFrame, inferred: DataFrame): Unit = {
    assert(df.schema == inferred.schema)
    assert(datasetEquality(inferred, df))
  }

  test("a second Extract of an unchanged parquet table launches no Spark job") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = tmpDir("graft_memo_hit")
    val conn = new ParquetConnector(tmp)
    conn.write(spark.read.parquet(s"$sf001/nation.parquet"), "nation", SaveMode.ErrorIfExists, Map.empty)
    val (_, first) = sparkJobs(ExtractStage("e1", conn, "nation", "memo_n1").run())
    assert(first >= 1, "the first read infers the schema with a Spark job")
    val (second, jobs) = sparkJobs(ExtractStage("e2", conn, "nation", "memo_n2").run().get)
    assert(jobs == 0)
    assertSameAsInferred(second, spark.read.parquet(s"$tmp/nation.parquet"))
    assert(second.count() == 25)
  }

  test("overwrite with an added column: the next read sees the new column") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conn = new ParquetConnector(tmpDir("graft_memo_cols"))
    conn.write(Seq((1L, "a")).toDF("k", "v"), "t", SaveMode.ErrorIfExists, Map.empty)
    assert(conn.read("t", Map.empty).columns.toSeq == Seq("k", "v"))
    conn.write(Seq((2L, "b", 3.5)).toDF("k", "v", "w"), "t", SaveMode.Overwrite, Latch)
    val back = conn.read("t", Map.empty)
    assert(back.columns.toSeq == Seq("k", "v", "w"))
    assert(back.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }

  test("append: the next read returns the new rows") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conn = new ParquetConnector(tmpDir("graft_memo_append"))
    conn.write(Seq((1L, "a")).toDF("k", "v"), "t", SaveMode.Append, Map.empty)
    assert(conn.read("t", Map.empty).count() == 1)
    conn.write(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), "t", SaveMode.Append, Map.empty)
    assert(conn.read("t", Map.empty).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a file replaced under the same name with another length or mtime is re-inferred") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = tmpDir("graft_memo_replace")
    val conn = new ParquetConnector(tmp)
    conn.write(Seq((1L, "a")).toDF("k", "v").coalesce(1), "t", SaveMode.ErrorIfExists, Map.empty)
    assert(conn.read("t", Map.empty).columns.toSeq == Seq("k", "v"))
    val Seq(target) = dataFiles(s"$tmp/t.parquet")

    // another length: a file with one more column takes the old file's name
    val other = tmpDir("graft_memo_other")
    Seq((7L, "x", true)).toDF("k", "v", "flag").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$other/t")
    val Seq(replacement) = dataFiles(s"$other/t")
    assert(replacement.length != target.length)
    val mtime = target.lastModified
    Files.copy(replacement.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    new File(target.getParent, s".${target.getName}.crc").delete(): Unit
    assert(target.setLastModified(mtime))
    val back = conn.read("t", Map.empty)
    assert(back.columns.toSeq == Seq("k", "v", "flag"))
    assert(back.as[(Long, String, Boolean)].collect().toSeq == Seq((7L, "x", true)))

    // another mtime, same bytes: the read infers again (one inference job)
    val (_, hitJobs) = sparkJobs(conn.read("t", Map.empty))
    assert(hitJobs == 0)
    assert(target.setLastModified(target.lastModified - 60000L))
    val (again, jobs) = sparkJobs(conn.read("t", Map.empty))
    assert(jobs >= 1)
    assert(again.columns.toSeq == Seq("k", "v", "flag"))
  }

  test("a changed inference conf re-infers (binaryAsString on a binary column)") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = tmpDir("graft_memo_conf")
    // written without Spark's schema metadata, so the conf decides the type
    val dir = new File(s"$tmp/bin.parquet")
    assert(dir.mkdirs())
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary payload; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-00000.parquet"))
      .withType(schema).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try writer.write(groups.newGroup().append("id", 1L).append("payload", "abc"))
    finally writer.close()

    val conn = new ParquetConnector(tmp)
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(conn.read("bin", Map.empty).schema("payload").dataType == BinaryType)
      assert(conn.read("bin", Map.empty).schema("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = conn.read("bin", Map.empty)
      assert(asString.schema("payload").dataType == StringType)
      assert(asString.select("payload").as[String].collect().toSeq == Seq("abc"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a disk.partitionBy table reads with the schema and rows of an inferred read") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = tmpDir("graft_memo_parts")
    val conn = new ParquetConnector(tmp)
    val rows = (1 to 40).map(i => (i.toLong, s"v$i", 2020 + i % 3)).toDF("k", "v", "year")
    conn.write(rows, "p", SaveMode.Overwrite, Latch + ("disk.partitionBy" -> "year"))
    conn.read("p", Map.empty)
    val (hit, jobs) = sparkJobs(conn.read("p", Map.empty))
    assert(jobs == 0)
    val inferred = spark.read.parquet(s"$tmp/p.parquet")
    assert(inferred.columns.last == "year")
    assertSameAsInferred(hit, inferred)
    assert(hit.where("year = 2021").count() == inferred.where("year = 2021").count())
  }

  test("a missing path raises the same error as an inferred read, remembered or not") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = tmpDir("graft_memo_missing")
    val conn = new ParquetConnector(tmp)
    def message(f: => DataFrame): String =
      intercept[org.apache.spark.sql.AnalysisException](f).getMessage
    assert(message(conn.read("nope", Map.empty)) ==
      message(spark.read.parquet(s"$tmp/nope.parquet")))

    conn.write(Seq((1L, "a")).toDF("k", "v"), "gone", SaveMode.ErrorIfExists, Map.empty)
    assert(conn.read("gone", Map.empty).count() == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$tmp/gone.parquet"))
    assert(message(conn.read("gone", Map.empty)) ==
      message(spark.read.parquet(s"$tmp/gone.parquet")))
  }

  test("orc: an unchanged table is a hit, an added column invalidates") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val tmp = tmpDir("graft_memo_orc")
    val orc = new OrcConnector(tmp)
    // mergeSchema makes ORC inference a Spark job, so a hit shows as none
    val merge = Map("mergeSchema" -> "true")
    orc.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t", SaveMode.ErrorIfExists, Map.empty)
    val (_, first) = sparkJobs(orc.read("t", merge))
    assert(first >= 1)
    val (hit, jobs) = sparkJobs(orc.read("t", merge))
    assert(jobs == 0)
    assertSameAsInferred(hit, spark.read.options(merge).orc(s"$tmp/t.orc"))

    orc.write(Seq((3L, "c", 1.5)).toDF("k", "v", "w"), "t", SaveMode.Overwrite, Latch)
    val back = orc.read("t", merge)
    assert(back.columns.toSeq == Seq("k", "v", "w"))
    assert(back.as[(Long, String, Double)].collect().toSeq == Seq((3L, "c", 1.5)))
  }
}
