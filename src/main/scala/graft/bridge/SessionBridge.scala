/* Declared in org.apache.spark.sql: the SparkSession constructor
 * `cloneSession` uses and `Dataset.ofRows` are private[sql].
 * [[graft.util.Fixpoint.scoped]] runs each iterative operator on a clone
 * of the caller's session, as Spark's own StreamExecution runs its
 * micro-batches, and moves frames between the two sessions by their
 * analyzed plans.
 */
package org.apache.spark.sql

object GraftSessionBridge {

  /** A session sharing `spark`'s SparkContext, cache and catalog state,
    * with a copy of its runtime conf, temp views, functions and
    * execution listeners that it can change on its own.
    *
    * This is `cloneSession()` with session artifact isolation off. An
    * isolated session's tasks run in an executor class loader of their
    * own, keyed by the session's id, and generated code is cached per
    * class loader, so every clone would compile each of its stages again:
    * with isolation on, pipebench's graph_fixpoint workload (local[4],
    * one connected-components loop per request) read request_p50_s 17.6%
    * above the conf-scope driver's, over 10 pairs. Off, the clone's tasks
    * share the context's class loader, warm after the first loop. The
    * clone gives up only artifacts added to the caller's session itself
    * (`addArtifact`), which a classic session does not use.
    */
  def cloneSession(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val clone = withParent.newInstance(s.sparkContext, Some(s.sharedState),
      Some(s.sessionState), s.extensions, Map.empty[String, String],
      s.managedJobTags.get.toMap)
    // copied now, as cloneSession does, not when the clone is first used;
    // the artifact manager reads the isolation flag when it is copied
    clone.sessionState.conf
      .setConfString("spark.sql.artifact.isolation.enabled", "false")
    clone.sessionState.artifactManager
    clone.managedJobTags
    clone
  }

  // the constructor cloneSession calls: private to the class in Scala,
  // public in bytecode
  private val withParent = classOf[classic.SparkSession].getConstructor(
    classOf[org.apache.spark.SparkContext], classOf[Option[_]],
    classOf[Option[_]], classOf[SparkSessionExtensions],
    classOf[Map[_, _]], classOf[Map[_, _]])

  /** `df`'s analyzed plan as a frame of `spark`: nothing is resolved a
    * second time, and cached plans are hit from either session.
    */
  def bind(spark: SparkSession, df: Dataset[_]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
