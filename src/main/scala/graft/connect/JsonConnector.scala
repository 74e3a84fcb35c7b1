package graft.connect

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.pipeline.PipelineContext

/** JSON-lines keyspace: table `t` lives at `<baseDir>/<t>.json`, one JSON
  * object per line — the interchange shape of most crawled / exported
  * corpora. Numbers infer as BIGINT/DOUBLE on read (Spark JSON schema
  * inference); pass an explicit `schema` via a downstream TypingTransform
  * when the inference pass over the data is too expensive at corpus scale
  * (inference reads every byte once before the real scan).
  *
  * Reads do not use [[SchemaMemo]]: JSON inference derives the schema
  * from the records themselves (sampled rows, under options such as
  * `samplingRatio` and `primitivesAsString`), not from file footers, so
  * each read infers as Spark does.
  *
  * Same destructive-write latch as every other connector: Overwrite
  * requires explicit `confirm.truncate=true`.
  */
final class JsonConnector(baseDir: String) extends Connector {
  private def path(table: String) = s"$baseDir/$table.json"

  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    ctx.spark.read
      .options(options)
      .json(path(table))

  override def write(df: DataFrame, table: String, mode: SaveMode,
      options: Map[String, String])(implicit ctx: PipelineContext): Unit = {
    requireTruncateConfirmed(mode, options)
    df.write.mode(mode)
      .options(options - "confirm.truncate")
      .json(path(table))
  }
}
