package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Spark jobs per iterative operator, pinned. Every loop below runs
  * through [[graft.util.Fixpoint.iterate]]; a round costs its
  * materialization job(s) plus its probe, so the count is the loop
  * contract in numbers — a change to the driver that adds or drops a
  * job per round shows up here before it shows up in a benchmark.
  * Each operator runs on a fixed small input with its result collected,
  * under pinned session settings, with no cached frame carried over.
  */
class FixpointJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Canonical undirected edges (a < b): a K4 with a pendant chain, a
    * triangle with a tail, and a square — k-core and k-truss peel over
    * several rounds.
    */
  private def und: DataFrame = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
    (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (8L, 9L), (8L, 10L),
    (9L, 10L), (10L, 11L), (12L, 13L), (13L, 14L), (14L, 15L), (12L, 15L),
    (3L, 8L)).toDF("a", "b")

  /** A digraph with two cycles, a self-contained 2-cycle and tendrils. */
  private def digraph: DataFrame = Seq((1L, 2L), (2L, 3L), (3L, 1L),
    (3L, 4L), (4L, 5L), (5L, 4L), (6L, 1L), (5L, 7L), (7L, 8L), (8L, 9L),
    (9L, 7L), (9L, 10L)).toDF("src", "dst")

  private def linked: DataFrame = und.select(
    col("a").cast("string").as("src"), col("b").cast("string").as("dst"))

  private def pairs: DataFrame = Seq((1L, 2L), (2L, 3L), (3L, 4L),
    (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (20L, 21L), (21L, 22L))
    .toDF("doc_a", "doc_b")

  private def docs: DataFrame = Seq("banana bandana cabana", "anab nana banana",
    "bandana nana cabana banana", "abba baba cab", "nab ban can")
    .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def vectors: DataFrame = (1L to 12L).map { i =>
    (i, Seq((i % 5).toFloat, (i % 3).toFloat, (i * 7 % 11).toFloat, 1f))
  }.toDF("vec_id", "embedding")

  /** Jobs for one operator run plus the collect of its result. */
  private def jobs(run: => DataFrame): Int = {
    graft.util.Caches.unpersistAll()
    val settings = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    val unset = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.graft.fixpoint.rowsPerPartition", "spark.graft.planDumpDir")
    val saved = (settings.map(_._1) ++ unset)
      .map(k => k -> spark.conf.getOption(k))
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    unset.foreach(spark.conf.unset)
    try sparkJobs(run.collect())._2
    finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      graft.util.Caches.unpersistAll()
    }
  }

  private val pins: Seq[(String, () => DataFrame, Int)] = Seq(
    ("cc", () => Dedup.connectedComponents(pairs), 14),
    ("scc", () => Graph.scc(digraph), 110),
    ("topoLayers", () => Graph.topoLayers(digraph), 129),
    ("topoLayers every=2", () => Graph.topoLayers(digraph,
      checkpointEvery = 2), 127),
    ("kCore", () => Graph.kCore(und, k = 2, rounds = 6), 11),
    ("kCore every=2", () => Graph.kCore(und, k = 2, rounds = 6,
      checkpointEvery = 2), 13),
    ("kTruss", () => Graph.kTruss(und, k = 4, rounds = 6), 16),
    ("labelPropagation", () => Graph.labelPropagation(und, iters = 3), 4),
    ("labelPropagation every=2", () => Graph.labelPropagation(und,
      iters = 3, checkpointEvery = 2), 5),
    ("pagerank", () => Graph.pagerank(linked, iters = 4), 5),
    ("pagerank every=2", () => Graph.pagerank(linked, iters = 4,
      checkpointEvery = 2), 10),
    ("personalizedPagerank", () => Graph.personalizedPagerank(linked,
      col("node") === "1", iters = 3), 5),
    ("katz", () => Graph.katz(linked, iters = 3), 5),
    ("katz every=2", () => Graph.katz(linked, iters = 3,
      checkpointEvery = 2), 7),
    ("hits", () => Graph.hits(linked, iters = 3), 17),
    ("hits every=2", () => Graph.hits(linked, iters = 3,
      checkpointEvery = 2), 20),
    // the register loop is ballEstimates', which also materializes its
    // final generation (persist + count, or checkpoint + count)
    ("neighborhoodSizes", () => Graph.neighborhoodSizes(und, radius = 3,
      m = 64), 9),
    ("neighborhoodSizes every=1", () => Graph.neighborhoodSizes(und,
      radius = 3, m = 64, checkpointEvery = 1), 8),
    ("harmonicCentrality", () => Graph.harmonicCentrality(und, radius = 3,
      m = 64), 18),
    ("neighborhoodFunction", () => Graph.neighborhoodFunction(und,
      radius = 3, m = 64), 6),
    ("neighborhoodFunction every=1", () => Graph.neighborhoodFunction(und,
      radius = 3, m = 64, checkpointEvery = 1), 6),
    ("bpeLearnMerges", () => TextAnalysis.bpeLearnMerges(docs, "text",
      rounds = 4), 10),
    ("bpeLearnMerges every=2", () => TextAnalysis.bpeLearnMerges(docs,
      "text", rounds = 4, checkpointEvery = 2), 10),
    ("ByteBpe.learn", () => ByteBpe.learn(docs, "text", rounds = 4), 8),
    ("ByteBpe.learn every=2", () => ByteBpe.learn(docs, "text", rounds = 4,
      checkpointEvery = 2), 8),
    ("Wordpiece.learn", () => Wordpiece.learn(docs, "text", rounds = 4), 14),
    ("Wordpiece.learn every=2", () => Wordpiece.learn(docs, "text",
      rounds = 4, checkpointEvery = 2), 14),
    ("kcenter", () => Similarity.kcenter(vectors, k = 4), 10))

  test("each iterative operator runs its pinned number of Spark jobs") {
    val got = pins.map { case (name, run, _) => name -> jobs(run()) }
    got.foreach { case (n, j) => println(s"[jobs] $n -> $j") }
    val want = pins.map { case (name, _, n) => name -> n }
    val off = got.zip(want).collect {
      case ((name, g), (_, w)) if g != w => s"$name: $g jobs, pinned $w"
    }
    assert(off.isEmpty, off.mkString("\n"))
  }
}
