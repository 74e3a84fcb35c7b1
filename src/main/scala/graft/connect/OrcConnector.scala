package graft.connect

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.pipeline.PipelineContext

/** ORC keyspace: table `t` lives at `<baseDir>/<t>.orc`. The other
  * columnar format Spark ships natively — same predicate pushdown /
  * column pruning class as parquet, types preserved exactly on
  * round-trip (unlike the delimited/JSON text formats), so it slots in
  * wherever an existing lake is ORC-based (Hive heritage).
  *
  * Same destructive-write latch as every connector. Reads remember the
  * footer schema in [[SchemaMemo]], as the parquet keyspace does.
  */
final class OrcConnector(baseDir: String) extends Connector {
  private def path(table: String) = s"$baseDir/$table.orc"

  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    SchemaMemo.read(ctx.spark, path(table), options)(_.orc(_))

  override def write(df: DataFrame, table: String, mode: SaveMode,
      options: Map[String, String])(implicit ctx: PipelineContext): Unit = {
    requireTruncateConfirmed(mode, options)
    df.write.mode(mode)
      .options(options - "confirm.truncate")
      .orc(path(table))
  }
}
