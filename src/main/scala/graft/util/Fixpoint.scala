package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one driver of the engine's iterative operators, and the conf
  * scopes their rounds run under.
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
  *    localCheckpoint was never registered there. `keepCheckpoints`
  *    only uncaches: a loop whose per-round frames are read lazily after
  *    it ends (HyperBall's per-radius estimates) must keep superseded
  *    checkpoints, whose lineage is gone — freeing one is an
  *    unrecoverable CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, not a recompute.
  *  - PROBES each materialized generation with the optional `changed`
  *    (a probe over a persisted generation must read all of it) and stops
  *    at the first round that changed nothing, or when the round returns
  *    its input unchanged, or after `maxRounds`. The [[Result]] says which.
  *  - DUMPS each round's frame before it is materialized as
  *    `<name>_round_<n>` ([[PlanDump]], conf-gated).
  *  - SCOPES the seed and the rounds: without AQE when `aqe = false`,
  *    and with the loop's shuffle-partition count per [[Parts]]. An
  *    operator whose setup or read-out (an exact count, a collect) ran
  *    inside the same scope opens it around the whole operator instead;
  *    scopes nest. [[truncate]] is the one-shot form for state outside
  *    a loop (scc's peel rounds, kTruss's oriented edges).
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
  * AQE in stateful streaming). [[withoutAqe]] disables AQE for `body`
  * and restores the previous value after; the DataFrame an operator
  * returns executes under the caller's own configuration as usual.
  * `spark.graft.fixpoint.aqe=true` re-enables AQE inside the loops for
  * deployments whose per-round tables are large enough that runtime
  * coalescing / skew splitting outweighs the per-round re-planning
  * latency (the 100 TB regime).
  *
  * CONCURRENCY CONTRACT: `spark.conf` is SESSION-global, not
  * thread-local, so while any fixpoint scope is open every OTHER query
  * submitted on the same session also plans under the scoped values:
  * without AQE inside [[withoutAqe]], and with the loop's (often
  * single-digit) `spark.sql.shuffle.partitions` inside
  * [[withLoopPartitions]] / [[withShufflePartitions]] — a concurrent
  * corpus-sized aggregate would run its exchanges in that many tasks.
  * Scopes themselves are safe to overlap (the restore is
  * reference-counted per session below — the last scope out
  * re-installs the value the first scope in saw, or unsets a key that
  * had no value, so concurrent fixpoints can no longer clobber each
  * other's `prev`), but a host that multiplexes AQE- or
  * parallelism-sensitive OLAP queries and fixpoint operators on one
  * session concurrently should give the fixpoints their own session
  * (`newSession()` shares the SparkContext and catalog but has
  * independent conf) or set `spark.graft.fixpoint.aqe=true`.
  * Bench/Verify are single-threaded and unaffected.
  */
object Fixpoint {

  /** How [[iterate]] holds a generation that is not checkpointed. */
  sealed trait Hold
  /** Not at all: the generation stays a lazy frame over its parent. */
  case object Lazy extends Hold
  /** Persisted; the probe or the next round's action fills the cache. */
  case object Persist extends Hold
  /** Persisted, and counted at once — checkpointed ones are counted too. */
  case object Count extends Hold

  /** The shuffle-partition scope of a loop. */
  sealed trait Parts
  object Parts {
    /** The session's own setting. */
    case object Session extends Parts
    /** `n` partitions, from the seed's materialization on — for a loop
      * that also hash-partitions its own state with `n`.
      */
    final case class Exactly(n: Int) extends Parts
    /** [[loopPartitions]] for `rows(seed)`, from round 1 on; `rows` sees
      * the materialized seed.
      */
    final case class SizedBy(rows: DataFrame => Long) extends Parts
  }

  /** The last generation, the rounds that built it, and whether the
    * loop stopped at a fixpoint rather than at its round budget.
    */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Run a loop under the contract above: `round` builds each
    * generation from the previous one, at most `maxRounds` times.
    * `seed` is evaluated inside the loop's scopes on `spark`.
    */
  def iterate(spark: SparkSession, seed: => DataFrame, maxRounds: Int,
      name: String, every: Int = 0, hold: Hold = Lazy,
      keepCheckpoints: Boolean = false,
      materializeSeed: Boolean = false, aqe: Boolean = true,
      parts: Parts = Parts.Session, reliable: Option[Boolean] = None,
      changed: Option[DataFrame => Boolean] = None)(
      round: DataFrame => DataFrame): Result = {
    require(every >= 0, s"checkpointEvery must be >= 0 (0 = off), got $every")
    var made = 0
    // the cadence: whether the next generation materialized is a checkpoint
    def cutNext(): Boolean = { made += 1; every > 0 && made % every == 0 }
    def loop(gen0: DataFrame, durable: Boolean): Result = {
      var gen = gen0
      var held = List(gen0)
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        val frame = round(gen)
        if (frame eq gen) converged = true
        else {
          rounds += 1
          PlanDump(s"${name}_round_$rounds", frame)
          val cut = cutNext()
          val next =
            if (cut) checkpoint(frame, durable)
            else if (hold == Lazy) frame
            else Caches.persist(frame)
          if (hold == Count) next.count()
          converged = !changed.forall(_(next))
          if (cut || hold == Count || (hold == Persist && changed.isDefined)) {
            held.foreach(g =>
              if (keepCheckpoints) g.unpersist(blocking = false) else free(g))
            held = Nil
          }
          held ::= next
          gen = next
        }
      }
      Result(gen, rounds, converged)
    }
    def run: Result = {
      val s = seed
      val durable =
        reliable.getOrElse(spark.sparkContext.getCheckpointDir.isDefined)
      val gen0 =
        if (materializeSeed && cutNext()) checkpoint(s, durable) else s
      parts match {
        case Parts.SizedBy(rows) =>
          withLoopPartitions(spark, rows(gen0))(loop(gen0, durable))
        case _ => loop(gen0, durable)
      }
    }
    def scoped: Result = parts match {
      case Parts.Exactly(n) => withShufflePartitions(spark, n)(run)
      case _ => run
    }
    if (aqe) scoped else withoutAqe(spark)(scoped)
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

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val KeepKey = "spark.graft.fixpoint.aqe"

  /** Per-(session, key) open-scope bookkeeping: a stack of scope tokens
    * with their target values plus the pre-scope original (None when
    * the key had no value). The LAST scope out restores the original,
    * or unsets the key so a later `conf.get(key, default)` still sees
    * its default; a non-final exit re-installs the
    * remaining top scope's target, so overlapping scopes (nested on one
    * thread or concurrent across threads) never clobber the value the
    * first scope in saw. Sessions compare by identity (SparkSession
    * does not override equals).
    */
  private final class ConfScopes(val original: Option[String]) {
    val stack = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    val values = new java.util.IdentityHashMap[AnyRef, String]()
  }
  private val open =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), ConfScopes]

  /** Run `body` with session conf `key` set to `value`, restoring the
    * pre-scope value afterwards (overlap-safe, see [[ConfScopes]]).
    * The conf is SESSION-global while the scope is open — see the
    * concurrency contract above.
    */
  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val token = new Object
    open.synchronized {
      val sc = open.getOrElseUpdate((spark, key),
        new ConfScopes(spark.conf.getOption(key)))
      sc.stack += token
      sc.values.put(token, value)
      spark.conf.set(key, value)
    }
    try body finally open.synchronized {
      val sc = open((spark, key))
      sc.stack -= token
      sc.values.remove(token)
      if (sc.stack.isEmpty) {
        open.remove((spark, key))
        sc.original match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else spark.conf.set(key, sc.values.get(sc.stack.last))
    }
  }

  def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val keep = spark.conf.get(KeepKey, "false").equalsIgnoreCase("true")
    val already = open.synchronized {
      !open.contains((spark, AqeKey)) &&
        spark.conf.get(AqeKey, "true").equalsIgnoreCase("false")
    }
    if (keep || already) body // off globally; nothing to scope
    else withConf(spark, AqeKey, "false")(body)
  }

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
    val session = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min(session.toLong,
      (rows + per - 1) / math.max(1L, per))).toInt
  }

  /** Scope `spark.sql.shuffle.partitions` to [[loopPartitions]] for an
    * iterative loop over `rows`-sized state.
    */
  def withLoopPartitions[T](spark: SparkSession, rows: Long)(
      body: => T): T =
    withShufflePartitions(spark, loopPartitions(spark, rows))(body)

  /** Scope `spark.sql.shuffle.partitions` to an explicit `n` — for a
    * loop that also hash-partitions its own state with `n` (so the
    * loop's aggregates and its `repartition(n, key)` frames agree).
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(
      body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(body)
}
