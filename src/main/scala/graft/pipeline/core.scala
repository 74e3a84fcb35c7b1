package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Runtime context threaded through every stage.
  *
  * Mirrors the Arc `ARCContext` surface the reference stages depend on
  * (ref: extract/CassandraExtract.scala:81-94 — `isStreaming`,
  * `immutableViews`; execute-time environment filtering in the parser).
  *
  * @param environment     active environment tag; stages whose
  *                        `environments` list is non-empty and does not
  *                        contain this value are skipped by the runner.
  * @param isStreaming     batch-only stages guard on this (empty extract /
  *                        skipped load), matching the reference semantics.
  * @param immutableViews  when true, view registration uses `createTempView`
  *                        (throws on duplicates) instead of
  *                        `createOrReplaceTempView` — append-only catalog.
  */
final case class PipelineContext(
    spark: SparkSession,
    environment: String = "test",
    isStreaming: Boolean = false,
    immutableViews: Boolean = false)

/** Runtime failure wrapped with the failing stage's structured detail map,
  * so orchestrators can log lineage for the failure.
  * (ref: CassandraExtract.scala:100-104 `DetailException` pattern.)
  */
final class DetailException(
    message: String,
    val detail: Map[String, Any],
    cause: Throwable)
    extends RuntimeException(message, cause)

/** A pipeline stage: executes against the session, optionally yielding a
  * DataFrame. Stages communicate through NAMED TEMP VIEWS, not object
  * references (ref: CassandraExtract.scala:123, CassandraLoad.scala:96).
  */
trait Stage {

  /** User-facing stage name (from config). */
  def name: String

  /** Structured lineage/metrics detail, populated during execute and
    * attached to any thrown error. Insertion-ordered for stable logs.
    */
  val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def execute()(implicit ctx: PipelineContext): Option[DataFrame]

  /** Execute with detail-preserving error wrapping. Every run stamps the
    * library version into detail first (ref: BuildInfo.version,
    * CassandraExtract.scala:15) so lineage records which build produced
    * them — including failed runs.
    */
  final def run()(implicit ctx: PipelineContext): Option[DataFrame] =
    try { detail += "version" -> graft.BuildInfo.version; execute() }
    catch {
      case e: DetailException => throw e
      case e: Throwable =>
        detail += "error" -> String.valueOf(e.getMessage)
        throw new DetailException(
          s"stage '$name' failed: ${e.getMessage}", detail.toMap, e)
    }
}

/** A stage that reads its own config. Each `val` of a subclass reads one
  * key, with its default, from the [[ConfigReader]] the stage is built
  * from, so the keys a stage reads are its options
  * ([[ConfigReader.rejectUnread]]). A val reads its key on every path,
  * and a constructor never throws: problems are recorded on the reader.
  *
  * The base holds what every such stage repeats: its name, the detail
  * entries recorded before it runs, and the registration of its output
  * under `outputView`. Scala initialises the base before the subclass, so
  * the base reads no subclass member while it is being constructed.
  */
abstract class ConfiguredStage(r: ConfigReader) extends Stage {
  val name: String = r.requiredString("name")

  def outputView: String

  /** Detail entries recorded before the stage runs, in order. */
  protected def describe: Seq[(String, Any)]

  protected def output()(implicit ctx: PipelineContext): DataFrame

  final override def execute()(implicit ctx: PipelineContext): Option[DataFrame] = {
    detail ++= describe
    val out = output()
    Views.register(out, outputView)
    Option(out)
  }
}

/** A [[ConfiguredStage]] that runs one of several methods, chosen by a
  * selector key. Its arm table, `method -> body`, is the one declaration
  * of the methods: the selector is validated against the table's keys,
  * [[Parser.methodEnums]] lists them, and `execute` runs the chosen arm on
  * the stage's input, which is resolved only if the arm reads it.
  */
abstract class MethodStage(r: ConfigReader) extends ConfiguredStage(r) {
  protected type Arm = (=> DataFrame) => DataFrame

  /** The selected method, a key of [[arms]]. */
  def method: String

  /** The frame an arm receives. */
  protected def input(implicit ctx: PipelineContext): DataFrame

  /** The arm table, in enum order. Building it runs no arm and reads no
    * val: the selector lists its keys while the subclass is still being
    * constructed, with no context to run in.
    */
  protected def arms(implicit ctx: PipelineContext): Seq[(String, Arm)]

  /** The method names: the keys of the arm table. */
  final def methods: Seq[String] = arms(PipelineContext(spark = null)).map(_._1)

  /** Reads the selector `key`, validated against [[methods]]. */
  protected final def select(key: String, default: String): String =
    r.oneOf(key, methods, default)

  /** Reads `key` ("" when absent), a parse error when the selected
    * method is one of `needers`; read after `method`.
    */
  protected final def requiredBy(key: String, needers: String*): String = {
    val v = r.string(key)
    if (v.isEmpty && needers.contains(method))
      r.error(key, s"missing; method '$method' requires it")
    v.getOrElse("")
  }

  protected def output()(implicit ctx: PipelineContext): DataFrame = {
    lazy val in = input
    arms.toMap.apply(method)(in)
  }
}

/** A [[MethodStage]] from one input view to one output view, the shape of
  * most transforms: its arms receive `inputView`.
  */
abstract class TransformStage(r: ConfigReader) extends MethodStage(r) {
  val inputView: String = r.requiredString("inputView")
  val outputView: String = r.requiredString("outputView")

  protected def describe: Seq[(String, Any)] =
    Seq("method" -> method, "inputView" -> inputView, "outputView" -> outputView)

  protected def input(implicit ctx: PipelineContext): DataFrame = Views.resolve(inputView)
}

object Views {

  /** Register a DataFrame under a view name, honoring the append-only
    * catalog mode (ref: CassandraExtract.scala:123).
    */
  def register(df: DataFrame, view: String)(implicit ctx: PipelineContext): Unit =
    if (ctx.immutableViews) df.createTempView(view)
    else df.createOrReplaceTempView(view)

  /** Resolve a view by name (ref: CassandraLoad.scala:96). */
  def resolve(view: String)(implicit ctx: PipelineContext): DataFrame =
    ctx.spark.table(view)
}

object Repartition {

  /** The reference's 4-way repartition matrix, used both post-extract and
    * pre-load (ref: CassandraExtract.scala:107-122,
    * CassandraLoad.scala:110-153):
    *   - no hints           → unchanged (inherit source partitioning)
    *   - n only             → round-robin to exactly n partitions
    *   - cols only          → hash-cluster by cols (session default N)
    *   - n + cols           → hash-cluster by cols into n partitions
    *
    * At 100 TB the cols forms are the write-locality lever (align shuffle
    * with the sink's partition keys); the round-robin form is the
    * parallelism/small-files lever.
    */
  def apply(df: DataFrame, numPartitions: Option[Int], partitionBy: Seq[String]): DataFrame =
    (numPartitions, partitionBy) match {
      case (None, Seq())    => df
      case (Some(n), Seq()) => df.repartition(n)
      case (None, cols)     => df.repartition(cols.map(df(_)): _*)
      case (Some(n), cols)  => df.repartition(n, cols.map(df(_)): _*)
    }
}
