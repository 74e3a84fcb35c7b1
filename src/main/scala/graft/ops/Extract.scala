package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.connect.{Connector, PlannedPartitions}
import graft.pipeline._

/** Source stage: read one table through the connector, optionally
  * repartition, publish as a named temp view, optionally persist.
  * (ref: extract/CassandraExtract.scala:86-138.)
  *
  * Scale notes: the source's own split planning (parquet row-group splits /
  * Cassandra token ranges) governs read parallelism; `numPartitions` /
  * `partitionBy` are the explicit override for downstream locality. The
  * persist level is MEMORY_AND_DISK_SER (ref: CassandraExtract.scala:131) —
  * serialized so a hot 100 TB-scale intermediate spills instead of OOMing.
  *
  * `numPartitions` in the detail is the frame's partition count, found
  * without executing the frame ([[PlannedPartitions]]):
  *   - with `numPartitions = n` it is `n`: the count-taking repartition is
  *     never coalesced, so the shuffle need not run to know it;
  *   - for a plain file scan it is the number of file partitions the
  *     scan's own listing packs into, computed the way Spark's read RDD
  *     computes it, without building the file reader (which would copy
  *     and broadcast the Hadoop configuration for a frame the downstream
  *     query plans again anyway);
  *   - otherwise (`partitionBy` without a count under AQE, a bucketed read,
  *     a non-file source) it is `toRdd.getNumPartitions`, which under AQE
  *     runs the hash repartition's shuffle once to learn its coalesced
  *     count.
  */
final case class ExtractStage(
    name: String,
    connector: Connector,
    table: String,
    outputView: String,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    persist: Boolean = false,
    options: Map[String, String] = Map.empty)
    extends Stage {

  override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail += "table" -> table
    detail += "outputView" -> outputView

    // Batch-only source: in streaming mode yield an empty frame instead of
    // reading (ref: CassandraExtract.scala:92-94).
    val source =
      if (ctx.isStreaming) ctx.spark.emptyDataFrame
      else connector.read(table, options)

    val df = Repartition(source, numPartitions, partitionBy)
    Views.register(df, outputView)

    // Scan metrics into stage detail (ref: CassandraExtract.scala:125-134).
    detail += "outputColumns" -> df.schema.length
    if (!ctx.isStreaming) {
      detail += "inputFiles" -> df.inputFiles.length
      detail += "numPartitions" -> PlannedPartitions.count(df)
      if (persist) {
        df.persist(StorageLevel.MEMORY_AND_DISK_SER)
        detail += "records" -> df.count() // the materializing action
      }
    }
    Option(df)
  }
}
