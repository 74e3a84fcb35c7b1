package graft.pipeline

import scala.collection.mutable
import scala.collection.mutable.ListBuffer

/** One config problem; all problems for a stage are reported together.
  * (ref: CassandraExtract.scala:22-63 — typed getters + error ACCUMULATION,
  * so a user sees every mistake in one pass, not one at a time.)
  */
final case class ConfigError(key: String, message: String) {
  override def toString = s"$key: $message"
}

/** Accumulating typed reader over a parsed config object.
  *
  * Usage: read every field (each read records errors instead of throwing),
  * then call `result(...)` — `Right(stage)` only if zero errors accumulated.
  * Every getter records the key it was asked for, so the keys a stage
  * factory reads are that stage's valid keys ([[rejectUnread]]).
  */
final class ConfigReader(conf: Map[String, Any]) {
  private val errors = ListBuffer.empty[ConfigError]
  private val read = mutable.Set.empty[String]

  def error(key: String, message: String): Unit =
    errors += ConfigError(key, message)

  /** Reject every key no getter was asked for (typo guard; ref: the
    * invalid-keys check, CassandraExtract.scala:33). Call after the factory
    * has read its fields; the unknown-key errors go ahead of the
    * factory's own. A factory must therefore read each of its keys on
    * every path, not only in the branch that uses it.
    */
  def rejectUnread(alsoValid: Set[String]): Unit = {
    val valid = (read ++ alsoValid).toSeq.sorted
    errors.prependAll((conf.keySet -- valid).toSeq.sorted.map(k =>
      ConfigError(k, s"unknown option; expected one of ${valid.mkString(", ")}")))
  }

  private def get[T](key: String, typeName: String)(pf: PartialFunction[Any, T]): Option[T] = {
    read += key
    conf.get(key) match {
      case None => None
      case Some(v) =>
        pf.lift(v) match {
          case some @ Some(_) => some
          case None =>
            errors += ConfigError(key, s"expected $typeName, got ${String.valueOf(v)}")
            None
        }
    }
  }

  def string(key: String): Option[String] =
    get(key, "string") { case s: String => s }

  def requiredString(key: String): String =
    string(key).getOrElse {
      if (!conf.contains(key)) errors += ConfigError(key, "missing required option")
      ""
    }

  def int(key: String): Option[Int] =
    get(key, "integer") {
      case i: Int                         => i
      case l: Long if l.isValidInt        => l.toInt
      case b: BigInt if b.isValidInt      => b.toInt
    }

  /** Whole-number reader that keeps 64-bit range: token/byte budgets at
    * 100 TB scale routinely exceed Int.MaxValue (~2.1B), so they must not
    * funnel through `int`.
    */
  def long(key: String): Option[Long] =
    get(key, "integer") {
      case i: Int                     => i.toLong
      case l: Long                    => l
      case b: BigInt if b.isValidLong => b.toLong
    }

  def boolean(key: String, default: Boolean): Boolean =
    get(key, "boolean") { case b: Boolean => b }.getOrElse(default)

  def double(key: String): Option[Double] =
    get(key, "number") {
      case d: Double      => d
      case i: Int         => i.toDouble
      case l: Long        => l.toDouble
      case b: BigInt      => b.toDouble
      case b: BigDecimal  => b.toDouble
    }

  def stringList(key: String): Seq[String] =
    get(key, "list of strings") {
      case xs: Seq[_] if xs.forall(_.isInstanceOf[String]) =>
        xs.asInstanceOf[Seq[String]]
    }.getOrElse(Nil)

  /** Enum-style validated string (ref: saveMode validValues,
    * CassandraLoad.scala:35).
    */
  def oneOf(key: String, valid: Seq[String], default: String): String =
    string(key) match {
      case Some(s) if valid.contains(s) => s
      case Some(s) =>
        errors += ConfigError(key, s"invalid value '$s'; expected one of ${valid.mkString(", ")}")
        default
      case None => default
    }

  /** Free-form string→string map passed through to the connector
    * (ref: params pass-through, CassandraExtract.scala:96).
    */
  def stringMap(key: String): Map[String, String] =
    get(key, "object of strings") {
      case m: Map[_, _] =>
        m.map { case (k, v) => String.valueOf(k) -> String.valueOf(v) }
    }.getOrElse(Map.empty)

  /** [[stringMap]] whose values are numbers; a value that is not records
    * `<what> for '<k>' is not a number` and reads as `fallback`.
    */
  def doubleMap(key: String, what: String, fallback: Double): Map[String, Double] =
    stringMap(key).map { case (k, v) =>
      k -> (try v.toDouble catch {
        case _: NumberFormatException =>
          error(key, s"$what for '$k' is not a number: '$v'"); fallback
      })
    }

  /** `Right(value)` only if no error accumulated. A key read twice with a
    * bad value is reported once.
    */
  def result[T](value: => T): Either[List[ConfigError], T] =
    if (errors.isEmpty) Right(value) else Left(errors.distinct.toList)
}
