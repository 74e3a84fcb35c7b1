package graft.connect

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, PartitionedFileUtil, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.FilePartition

/** The partition count of a frame, found without executing it where the
  * plan allows. The answer is always what
  * `df.queryExecution.toRdd.getNumPartitions` returns;
  * `graft.connect.PlannedPartitionsSpec` pins the two to each other over
  * file layouts, formats and split settings.
  *
  * - **Explicit count:** a frame whose root is a repartition to `n`
  *   partitions (`repartition(n)` or `repartition(n, cols)`) has `n`. Both
  *   plan a `REPARTITION_BY_NUM` shuffle, which AQE never coalesces; under
  *   AQE, `toRdd` would run that shuffle's map stage just to report `n`.
  * - **Plain file scan:** a frame whose executed plan is one non-bucketed
  *   `FileSourceScanExec` under narrow nodes only (codegen, columnar to
  *   row, project, filter) has as many partitions as Spark's
  *   `createReadRDD` packs the scan's files into. The count repeats that
  *   packing from the scan's `selectedPartitions`, the listing the read
  *   already made: every file is cut into splits of at most
  *   `FilePartition.maxSplitBytes` (whole, if the format cannot split
  *   it), the splits are sorted largest first and
  *   `FilePartition.getFilePartitions` bins them. The file reader is never
  *   built, so the Hadoop configuration is not copied and broadcast.
  * - **Anything else:** `toRdd.getNumPartitions`. This covers a hash
  *   repartition without a count under AQE (its coalesced count exists only
  *   once the shuffle has run), bucketed reads and non-file sources.
  *
  * It uses only public members of Spark 4.1.
  */
object PlannedPartitions {

  def count(df: DataFrame): Int = {
    val qe = df.queryExecution
    qe.analyzed match {
      case r: Repartition if r.shuffle => r.numPartitions
      case r: RepartitionByExpression if r.optNumPartitions.isDefined => r.optNumPartitions.get
      case _ => fileScan(qe.executedPlan).map(splitCount).getOrElse(qe.toRdd.getNumPartitions)
    }
  }

  private def fileScan(plan: SparkPlan): Option[FileSourceScanExec] = plan match {
    case scan: FileSourceScanExec if scan.relation.bucketSpec.isEmpty => Some(scan)
    case _: WholeStageCodegenExec | _: ColumnarToRowExec | _: ProjectExec | _: FilterExec |
        _: InputAdapter => fileScan(plan.children.head)
    case _ => None
  }

  /** The size of the file partitions `createReadRDD` would build. */
  private def splitCount(scan: FileSourceScanExec): Int = {
    val relation = scan.relation
    val session = relation.sparkSession
    val listing = scan.selectedPartitions
    val maxSplit = FilePartition.maxSplitBytes(session, listing)
    val splits = listing.filePartitionIterator.flatMap { partition =>
      partition.files.flatMap { file =>
        val path = file.getPath
        PartitionedFileUtil.splitFiles(file, path,
          relation.fileFormat.isSplitable(session, relation.options, path),
          maxSplit, partition.values)
      }
    }.toArray.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(session, splits.toSeq, maxSplit).size
  }
}
