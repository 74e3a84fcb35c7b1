package graft.connect

import java.util.concurrent.ConcurrentHashMap
import scala.util.Try
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Remembers the schema Spark inferred for a file table, so the next read
  * of the unchanged table skips Spark's inference job.
  *
  * For formats whose schema lives in file footers (Parquet, ORC), an
  * inferred read launches one Spark job that opens the footers. Handing
  * the reader a schema skips that job; the read then only lists the files.
  *
  * - **Key:** the table path, the read options and the session's SQL conf
  *   (every set key). A change to any of them, e.g.
  *   `spark.sql.parquet.binaryAsString` or `mergeSchema`, misses.
  * - **Validation:** each entry is stamped with the table's leaf files
  *   (path, length, modification time) from the listing the inferred read
  *   made. A read with the remembered schema is kept only if the listing
  *   Spark just made for it (`PartitioningAwareFileIndex.allFiles`) has
  *   exactly those files; the files are never listed a second time.
  *   Otherwise, or if that read fails, the table is read with inference,
  *   as without the memo, and the entry is replaced.
  * - **Size:** at most one entry per table path per session, in a map
  *   weakly keyed on the session. An entry holds a schema and the file
  *   stamps, never rows.
  *
  * The memo is not one of [[graft.util.Caches]]: like Spark's own
  * plan and codegen caches it stays warm across units of work.
  */
object SchemaMemo {

  private type Stamp = Set[(String, Long, Long)]

  private final case class Entry(
      options: Map[String, String], conf: Map[String, String],
      schema: StructType, files: Stamp)

  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private def tables(spark: SparkSession): ConcurrentHashMap[String, Entry] =
    bySession.synchronized(
      bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Entry]()))

  /** Read the table at `path` with `load` (the format's reader call, e.g.
    * `_.parquet(_)`), passing the remembered schema when the entry for
    * `path` matches the options and conf and the files are unchanged.
    */
  def read(spark: SparkSession, path: String, options: Map[String, String])(
      load: (DataFrameReader, String) => DataFrame): DataFrame = {
    val memo = tables(spark)
    val conf = spark.conf.getAll
    val hit = Option(memo.get(path))
      .filter(e => e.options == options && e.conf == conf)
      .flatMap { e =>
        Try(load(spark.read.schema(e.schema).options(options), path)).toOption
          .filter(df => leafFiles(df).contains(e.files))
      }
    hit.getOrElse {
      memo.remove(path)
      val df = load(spark.read.options(options), path)
      leafFiles(df).foreach(files => memo.put(path, Entry(options, conf, df.schema, files)))
      df
    }
  }

  /** The leaf files of the file relation `df` reads, from the listing
    * Spark made when it resolved the relation.
    */
  private def leafFiles(df: DataFrame): Option[Stamp] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case r: HadoopFsRelation => r.location
    }.collect {
      case index: PartitioningAwareFileIndex =>
        index.allFiles().iterator
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }
}
