package graft.util

import org.apache.spark.sql.{DataFrame, Dataset, GraftSessionBridge, SparkSession}

/** The one driver of the engine's iterative operators, and the session
  * they run on.
  *
  * THE LOOP CONTRACT ([[iterate]]). A loop is a seed generation plus a
  * round that builds generation r from generation r-1. The driver:
  *
  *  - HOLDS every generation. Every `every`-th one is
  *    CHECKPOINTED: its physical result becomes the new plan root, so the
  *    analyzed plan stays bounded however many rounds run (a persist
  *    alone caches execution while the logical plan still deepens by one
  *    join+agg per round, and self-joining loops double it). The flavour
  *    follows the session: a RELIABLE `checkpoint` into the
  *    SparkContext's checkpoint dir when one is set (the cluster mode,
  *    survives executor loss), else an executor-local `localCheckpoint`;
  *    a caller may pin it (connected components follows its own
  *    `checkpointDir` argument). Both are eager, so the state exists
  *    before its parent is freed. The other generations are held per
  *    [[Hold]]: nothing (a single-action loop such as pagerank stays one
  *    plan), a lazy persist, or a persist plus count. `every = 0` never
  *    checkpoints — the default of the shallow fixed-iteration gate
  *    configurations, whose 2-3-round plans should not pay the
  *    materialization. With `materializeSeed` the seed is generation 1 of
  *    that cadence; otherwise the caller built it and round 1 is.
  *  - FREES superseded generations (the seed included) as soon as a
  *    successor holds its own rows: it was checkpointed or counted, or a
  *    probe read a persisted one. A lazy or unread generation still
  *    reads its parent, which stays. The last generation is the
  *    caller's. A checkpointed generation is freed through its plan's
  *    LogicalRDD — its blocks, or its reliable files —
  *    because `Dataset.unpersist` is a CacheManager call and a
  *    localCheckpoint was never registered there. `keepGenerations`
  *    frees nothing: a loop whose per-round frames are read lazily after
  *    it ends (HyperBall's per-radius estimates) keeps every generation
  *    cached or checkpointed until [[Caches.unpersistAll]] — freeing a
  *    checkpoint is an unrecoverable CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
  *    and uncaching a persisted one recomputes its whole chain.
  *  - PROBES each materialized generation with the optional `changed`
  *    (a probe over a persisted generation must read all of it) and stops
  *    at the first round that changed nothing, or when the round returns
  *    its input unchanged, or after `maxRounds`. The [[Result]] says which.
  *  - DUMPS each round's frame before it is materialized as
  *    `<name>_round_<n>` ([[PlanDump]], conf-gated).
  *  - RUNS ON ONE SESSION, the seed's: every round's frame must be bound
  *    to it. [[truncate]] is the one-shot lineage cut for state outside
  *    a loop (scc's peel rounds, kTruss's oriented edges).
  *
  * THE LOOP'S SESSION ([[scoped]]). An operator runs its whole body —
  * setup, probes, collects and its [[iterate]] calls — on a CLONE of the
  * caller's session, as Spark's StreamExecution runs every micro-batch
  * on a clone of its user's session. The clone starts with the caller's
  * runtime conf, temp views, functions and execution listeners, shares
  * its SparkContext and cache, and takes the loop's own settings: AQE
  * off, and the loop's shuffle-partition count. The caller's conf is
  * never written, so concurrent queries on the caller's session plan as
  * they always do, and nothing needs restoring. The operator's result
  * comes back bound to the caller's session and runs under the caller's
  * conf; a nested operator clones again.
  *
  * AQE. Adaptive execution re-optimizes at EVERY exchange: each shuffle
  * becomes its own query stage — submitted, materialized, re-planned —
  * before the next may start. Inside a fixpoint loop (min-label
  * propagation, peels, rank pulls) that re-planning buys nothing: the
  * per-round state is a node-keyed table of KNOWN bounded shape, the
  * round's plan is a fixed key-join + map-side-combined aggregate the
  * static planner already handles, and every generation is materialized
  * anyway — so AQE only inserts per-round stage barriers and
  * re-optimization latency, multiplied by rounds × stages. Measured on
  * the round-19 bench (sf0.1, local[32]): the connected-components
  * fixpoint over a 5k-edge graph ran 39.3 s with AQE on vs 11.2 s off —
  * identical results, identical plan shapes per round (the same
  * precedent as Spark's own MicroBatchExecution, which force-disables
  * AQE in stateful streaming).
  */
object Fixpoint {

  /** How [[iterate]] holds a generation that is not checkpointed. */
  sealed trait Hold
  /** Not at all: the generation stays a lazy frame over its parent. */
  case object Lazy extends Hold
  /** Persisted; the probe or the next round's action fills the cache. */
  case object Persist extends Hold
  /** Persisted, and counted at once unless it was checkpointed. */
  case object Count extends Hold

  /** The last generation, the rounds that built it, and whether the
    * loop stopped at a fixpoint rather than at its round budget.
    */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Run a loop under the contract above: `round` builds each
    * generation from the previous one, at most `maxRounds` times, on
    * `seed`'s session.
    */
  def iterate(seed: DataFrame, maxRounds: Int, name: String,
      every: Int = 0, hold: Hold = Lazy, keepGenerations: Boolean = false,
      materializeSeed: Boolean = false, reliable: Option[Boolean] = None,
      changed: Option[DataFrame => Boolean] = None)(
      round: DataFrame => DataFrame): Result = {
    require(every >= 0, s"checkpointEvery must be >= 0 (0 = off), got $every")
    val spark = seed.sparkSession
    val durable =
      reliable.getOrElse(spark.sparkContext.getCheckpointDir.isDefined)
    var made = 0
    // the cadence: whether the next generation materialized is a checkpoint
    def cutNext(): Boolean = { made += 1; every > 0 && made % every == 0 }
    var gen =
      if (materializeSeed && cutNext()) checkpoint(seed, durable) else seed
    var held = List(gen)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val frame = round(gen)
      if (frame eq gen) converged = true
      else {
        require(frame.sparkSession eq spark, s"$name round ${rounds + 1} " +
          "built its frame on another session than the loop's seed")
        rounds += 1
        PlanDump(s"${name}_round_$rounds", frame)
        val cut = cutNext()
        val next =
          if (cut) checkpoint(frame, durable)
          else if (hold == Lazy) frame
          else Caches.persist(frame)
        if (hold == Count && !cut) next.count()
        converged = !changed.forall(_(next))
        if (!keepGenerations &&
            (cut || hold == Count || (hold == Persist && changed.isDefined))) {
          held.foreach(free)
          held = Nil
        }
        held ::= next
        gen = next
      }
    }
    Result(gen, rounds, converged)
  }

  /** An operator's own session while it runs [[scoped]]. */
  final class Scope private[Fixpoint] (val spark: SparkSession,
      caller: SparkSession) {

    /** `df` re-bound to this session. */
    def apply(df: DataFrame): DataFrame = GraftSessionBridge.bind(spark, df)

    /** Set this session's shuffle partitions to [[loopPartitions]] for
      * `rows`-row state, clamped to the caller's setting.
      */
    def sizeTo(rows: Long): Unit =
      spark.conf.set(PartitionsKey, loopPartitions(caller, rows).toString)
  }

  /** Run an operator's `body` on a clone of `caller` (see the loop's
    * session above), with AQE off unless `aqe`, and with `partitions`
    * shuffle partitions when positive. `body` re-binds its input frames
    * through the [[Scope]]. A frame or [[Result]] it returns comes back
    * bound to `caller`; any other value is returned as is.
    */
  def scoped[T](caller: SparkSession, partitions: Int = 0,
      aqe: Boolean = false)(body: Scope => T): T = {
    val spark = GraftSessionBridge.cloneSession(caller)
    if (!aqe) spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (partitions > 0) spark.conf.set(PartitionsKey, partitions.toString)
    body(new Scope(spark, caller)) match {
      case df: Dataset[_] => GraftSessionBridge.bind(caller, df).asInstanceOf[T]
      case r: Result =>
        r.copy(state = GraftSessionBridge.bind(caller, r.state)).asInstanceOf[T]
      case out => out
    }
  }

  /** One-shot lineage truncation outside a loop, in the session's
    * checkpoint flavour; `replacing`, the state this frame supersedes,
    * is freed once the new one is materialized.
    */
  def truncate(df: DataFrame, replacing: Option[DataFrame] = None): DataFrame = {
    val cut = checkpoint(df,
      df.sparkSession.sparkContext.getCheckpointDir.isDefined)
    replacing.foreach(free)
    cut
  }

  private def checkpoint(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Drop a superseded generation's storage now. A checkpointed plan is
    * a single LogicalRDD leaf over the checkpointed RDD: for a
    * localCheckpoint that RDD holds the blocks (`rdd.unpersist` releases
    * them), for a reliable one it names its files, which are deleted.
    * The Dataset-level unpersist releases persisted generations.
    */
  private def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ => ()
    }
  }

  private val PartitionsKey = "spark.sql.shuffle.partitions"

  /** Shuffle partition count for a fixpoint whose per-round state is
    * `rows` rows: enough partitions to keep each under
    * `spark.graft.fixpoint.rowsPerPartition` (default 65536), clamped
    * to the session's configured `spark.sql.shuffle.partitions` so a
    * big deployment never loses parallelism — the LOCAL pathology this
    * fights is the reverse: tens of scheduler-overhead-bound tasks per
    * exchange for a table of a few thousand rows, multiplied by
    * rounds × exchanges-per-round.
    */
  def loopPartitions(spark: SparkSession, rows: Long): Int = {
    val per = spark.conf
      .get("spark.graft.fixpoint.rowsPerPartition", "65536").toLong
    val session = spark.conf.get(PartitionsKey, "200").toInt
    math.max(1L, math.min(session.toLong,
      (rows + per - 1) / math.max(1L, per))).toInt
  }
}
