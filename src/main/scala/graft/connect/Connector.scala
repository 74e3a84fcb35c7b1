package graft.connect

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.pipeline.PipelineContext

/** Pluggable storage boundary.
  *
  * The reference hard-wires the DataStax Cassandra DataSource
  * ("org.apache.spark.sql.cassandra", ref: CassandraExtract.scala:95,
  * CassandraLoad.scala:118). This build abstracts the storage system so the
  * same stages run against a parquet-backed "keyspace" in CI (no Cassandra
  * in the zero-egress environment) and a real connector in production.
  * Everything relational stays in Spark; the connector only maps
  * (table, options) to a DataSource read/write/DDL call.
  */
trait Connector {

  /** Read one table into a DataFrame. Schema is inferred by the source
    * (ref: CassandraExtract.scala:95-98 — no user schema hook). The
    * footer-schema formats (Parquet, ORC) reuse the schema inferred for an
    * unchanged table through [[SchemaMemo]].
    */
  def read(table: String, options: Map[String, String])(implicit ctx: PipelineContext): DataFrame

  /** Write a DataFrame to a table with the given save mode. */
  def write(df: DataFrame, table: String, mode: SaveMode, options: Map[String, String])(
      implicit ctx: PipelineContext): Unit

  /** Execute an out-of-band statement (DDL/DML) against the storage system,
    * driver-side, outside any Spark job. `params` are per-stage connection
    * overrides merged over the session conf before the call
    * (ref: CassandraExecute.scala:98-102 — copies SparkConf, overlays stage
    * params, builds the connector conf from the merge).
    *
    * The default serves the file-backed connectors, which run statements
    * through Spark SQL. Spark runs commands (DDL and side-effecting
    * statements) eagerly when `sql()` returns, so no action is needed;
    * for statements that do return rows, materialize distributed
    * (`count`) rather than collecting to the driver — Execute must never
    * pull a result set into driver memory. Per-stage connection params
    * are a storage-system concept; a file-backed keyspace has no
    * connection to configure, so they are ignored here.
    */
  def execute(statement: String, params: Map[String, String] = Map.empty)(
      implicit ctx: PipelineContext): Unit = {
    val result = ctx.spark.sql(statement)
    if (result.schema.nonEmpty) result.count(): Unit
  }

  /** The reference's conf-merge: session SparkConf overlaid with per-stage
    * params (stage wins on conflict).
    */
  protected def mergedConf(params: Map[String, String])(
      implicit ctx: PipelineContext): Map[String, String] =
    ctx.spark.sparkContext.getConf.getAll.toMap ++ params

  /** Destructive-write latch shared by all file-backed connectors:
    * Overwrite refuses to run unless the caller passes
    * `confirm.truncate=true` (ref: CassandraLoadSuite.scala:104 — DataStax
    * connector semantics).
    */
  protected def requireTruncateConfirmed(
      mode: SaveMode, options: Map[String, String]): Unit =
    if (mode == SaveMode.Overwrite &&
        !options.get("confirm.truncate").exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        "Overwrite requires explicit confirm.truncate=true (destructive-write latch)")
}

/** Parquet-backed keyspace: table `t` lives at `<baseDir>/<t>.parquet`.
  * Filter pushdown, column pruning and partition pruning come from Spark's
  * native parquet source. Used by all tests and by the driver harness
  * (`/root/testdata/<sf>/<table>.parquet`).
  *
  * BUCKETED layout (`bucket.by` + `bucket.n` write options, `bucket.table`
  * read option): the table is written through `bucketBy().sortBy()` as an
  * external session-catalog table rooted at `<baseDir>/<t>.bucketed`.
  * Bucketing is THE lakehouse lever for repeated big joins/aggregations on
  * a stable key: two tables bucketed on the join key with the same bucket
  * count sort-merge-join with NO exchange on either side — at 100 TB that
  * deletes the dominant shuffle from every downstream query that joins on
  * that key (the analogue of the reference's Cassandra token-range
  * co-location). Bucket metadata lives in the session catalog (Spark
  * cannot recover it from bare parquet), hence the explicit read option
  * and the connector-scoped catalog name.
  *
  * Plain (non-bucketed) reads go through [[SchemaMemo]]: the schema
  * Spark inferred from the footers is remembered per table path, read
  * options and session SQL conf, and reused only while the read's own
  * file listing shows exactly the files (path, length, modification
  * time) it was inferred from. It holds schemas and file stamps, never
  * rows. The bucketed catalog read resolves its schema from the session
  * catalog and does not use it.
  */
final class ParquetConnector(baseDir: String) extends Connector {
  private def path(table: String) = s"$baseDir/$table.parquet"

  /** Catalog identifier for this connector's bucketed tables — scoped by
    * the base dir so two connectors' same-named tables never collide in
    * the shared session catalog.
    */
  private def catalogName(table: String) =
    s"${table}_bkt_${Integer.toHexString(baseDir.hashCode)}"

  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    if (options.get("bucket.table").exists(_.equalsIgnoreCase("true")))
      ctx.spark.table(catalogName(table))
    else
      SchemaMemo.read(ctx.spark, path(table), options - "bucket.table")(_.parquet(_))

  /** `disk.partitionBy` (comma-separated columns) lays the table out as
    * partition directories — the lakehouse layout whose directory pruning
    * is the read-side scale lever (only matching partitions are scanned).
    */
  override def write(df: DataFrame, table: String, mode: SaveMode, options: Map[String, String])(
      implicit ctx: PipelineContext): Unit = {
    requireTruncateConfirmed(mode, options)
    val partCols = options.get("disk.partitionBy")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val bucketCols = options.get("bucket.by")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val passThrough = options - "confirm.truncate" - "disk.partitionBy" -
      "bucket.by" - "bucket.n"
    if (bucketCols.nonEmpty) {
      // external catalog table: data under baseDir, bucket spec in the
      // session catalog; sortBy gives sorted buckets so downstream
      // sort-merge joins skip the per-partition sort too
      val n = options.get("bucket.n").map(_.toInt).getOrElse(8)
      df.write.mode(mode).options(passThrough)
        .option("path", s"$baseDir/$table.bucketed")
        .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .format("parquet")
        .saveAsTable(catalogName(table))
    } else {
      val w = df.write.mode(mode).options(passThrough)
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(path(table))
    }
  }
}

/** Thin adapter that forwards to the Cassandra DataSource by format name.
  * Never exercised in CI (no Cassandra in this environment); compiled to
  * show the production wiring (ref: CassandraExtract.scala:95,
  * CassandraLoad.scala:114-119). `keyspace` rides in as an option.
  */
final class CassandraFormatConnector(keyspace: String) extends Connector {
  private val Format = "org.apache.spark.sql.cassandra"

  override def read(table: String, options: Map[String, String])(
      implicit ctx: PipelineContext): DataFrame =
    ctx.spark.read
      .format(Format)
      .options(options)
      .option("keyspace", keyspace)
      .option("table", table)
      .load()

  override def write(df: DataFrame, table: String, mode: SaveMode, options: Map[String, String])(
      implicit ctx: PipelineContext): Unit =
    df.write
      .format(Format)
      .mode(mode)
      .options(options)
      .option("keyspace", keyspace)
      .option("table", table)
      .save()

  /** Raw CQL execution goes through the [[CqlExecutor]] SPI: the conf
    * merge (session conf + per-stage params — the part the reference
    * implements in CassandraExecute.scala:98-102) happens HERE, then the
    * statement and the merged `spark.cassandra.*` settings hand off to
    * the first ServiceLoader-discovered executor. In production that
    * executor wraps the DataStax driver's CqlSession (the jar this
    * offline environment cannot ship); in CI a recording fake proves the
    * hand-off contract. With no executor on the classpath the error
    * names the missing piece precisely.
    */
  override def execute(statement: String, params: Map[String, String] = Map.empty)(
      implicit ctx: PipelineContext): Unit = {
    val conf = mergedConf(params).filter(_._1.startsWith("spark.cassandra."))
    val it = java.util.ServiceLoader
      .load(classOf[CqlExecutor], getClass.getClassLoader).iterator()
    if (it.hasNext) it.next().execute(statement, conf)
    else throw new UnsupportedOperationException(
      "raw CQL execution requires a graft.connect.CqlExecutor on the " +
        "classpath (production: the DataStax-driver implementation); " +
        s"would connect with ${conf.size} spark.cassandra.* settings")
  }
}

/** SPI for raw CQL execution (ref: CassandraExecute.scala:98-102 opens a
  * driver `CqlSession` and runs the statement). Implementations register
  * via `META-INF/services/graft.connect.CqlExecutor`; `settings` carries
  * the merged `spark.cassandra.*` configuration
  * ([[CassandraFormatConnector.execute]] performs the merge before the
  * hand-off, so an executor only needs the driver call itself).
  */
trait CqlExecutor {
  def execute(statement: String, settings: Map[String, String]): Unit
}
