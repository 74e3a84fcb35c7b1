package graft.connect

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.pipeline.PipelineContext

/** Delimited-text (CSV) keyspace: table `t` lives at `<baseDir>/<t>.csv`.
  * This is the reference's integration input shape — an all-string,
  * header-inferred CSV that a downstream TypingTransform (or the sink's
  * coercion) turns into typed columns
  * (ref: CassandraLoadSuite.scala:63 reads the AKC CSV with header=true and
  * all columns land as strings; FIXTURES §1).
  *
  * `inferSchema` stays OFF by default to match that contract; pass
  * `params: {"inferSchema": "true"}` to opt in. All other Spark CSV
  * options ride through untouched.
  *
  * Reads do not use [[SchemaMemo]]: CSV has no footer schema; Spark
  * takes the column names from the header row and, with `inferSchema`,
  * the types from the rows themselves, so each read infers as Spark does.
  */
final class DelimitedConnector(baseDir: String) extends Connector {
  private def path(table: String) = s"$baseDir/$table.csv"

  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    ctx.spark.read
      .option("header", "true")
      .options(options)
      .csv(path(table))

  override def write(df: DataFrame, table: String, mode: SaveMode,
      options: Map[String, String])(implicit ctx: PipelineContext): Unit = {
    requireTruncateConfirmed(mode, options)
    df.write.mode(mode)
      .option("header", "true")
      .options(options - "confirm.truncate")
      .csv(path(table))
  }
}
