package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, rng}

/** Round-11 pins: the `checkpointEvery` lineage-truncation knob must be
  * invisible in results — every iterative fixpoint yields bit-identical
  * output with checkpointing on, at more than one cadence, on random
  * graphs/corpora.
  */
class Round11PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i =>
      g(Gen.Parameters.default.withSize(12), rng.Seed(i.toLong)))

  /** Random canonical undirected edge set (a < b, distinct). */
  private def undirected(seed: Int, nodes: Int, edges: Int): DataFrame = {
    val pair = for {
      a <- Gen.chooseNum(0L, nodes.toLong - 1)
      b <- Gen.chooseNum(0L, nodes.toLong - 1) if a != b
    } yield (math.min(a, b), math.max(a, b))
    sample(pair, edges).distinct.toDF("a", "b")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("pagerank: identical ranks with checkpointing on") {
    val e = undirected(1, 30, 120)
      .select($"a".cast("string").as("src"), $"b".cast("string").as("dst"))
    val base = rows(Graph.pagerank(e, iters = 6))
    for (every <- Seq(1, 2, 3)) {
      assert(rows(Graph.pagerank(e, iters = 6, checkpointEvery = every))
        == base, s"checkpointEvery=$every diverged")
    }
    val seeded = rows(Graph.personalizedPagerank(e,
      org.apache.spark.sql.functions.col("node") === "1", iters = 5))
    assert(rows(Graph.personalizedPagerank(e,
      org.apache.spark.sql.functions.col("node") === "1", iters = 5,
      checkpointEvery = 2)) == seeded)
    val katz = rows(Graph.katz(e, iters = 4))
    val hits = rows(Graph.hits(e, iters = 4))
    for (every <- Seq(1, 2)) {
      assert(rows(Graph.katz(e, iters = 4, checkpointEvery = every)) == katz,
        s"katz checkpointEvery=$every diverged")
      assert(rows(Graph.hits(e, iters = 4, checkpointEvery = every)) == hits,
        s"hits checkpointEvery=$every diverged")
    }
    // the condensation of e plus every fifth edge reversed (cycles)
    val cyclic = e.unionByName(
      e.where("(cast(src as long) + cast(dst as long)) % 5 = 0")
        .select($"dst".as("src"), $"src".as("dst")))
    val layers = rows(Graph.topoLayers(cyclic, maxIter = 40))
    assert(rows(Graph.topoLayers(cyclic, maxIter = 40, checkpointEvery = 2))
      == layers, "topoLayers checkpointEvery=2 diverged")
    graft.util.Caches.unpersistAll()
  }

  test("labelPropagation: identical communities with checkpointing on") {
    val e = undirected(2, 40, 150)
    val base = rows(Graph.labelPropagation(e, iters = 4))
    for (every <- Seq(1, 3)) {
      assert(rows(Graph.labelPropagation(e, iters = 4,
        checkpointEvery = every)) == base)
    }
    graft.util.Caches.unpersistAll()
  }

  test("kCore: identical cores with checkpointing on") {
    val e = undirected(3, 40, 160)
    val base = rows(Graph.kCore(e, k = 3, rounds = 6))
    for (every <- Seq(1, 2)) {
      assert(rows(Graph.kCore(e, k = 3, rounds = 6,
        checkpointEvery = every)) == base)
    }
    graft.util.Caches.unpersistAll()
  }

  test("neighborhoodSizes: identical balls with checkpointing on") {
    val e = undirected(4, 25, 60)
    val base = rows(Graph.neighborhoodSizes(e, radius = 3, m = 64))
    assert(rows(Graph.neighborhoodSizes(e, radius = 3, m = 64,
      checkpointEvery = 1)) == base)
    val nf = rows(Graph.neighborhoodFunction(e, radius = 3, m = 64))
    assert(rows(Graph.neighborhoodFunction(e, radius = 3, m = 64,
      checkpointEvery = 1)) == nf, "neighborhoodFunction diverged")
    graft.util.Caches.unpersistAll()
  }

  test("bpeLearnMerges: identical merge table with checkpointing on") {
    val word = Gen.oneOf("banana", "bandana", "cabana", "anab", "nana")
    val text = Gen.chooseNum(2, 6).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    val docs = sample(text, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val base = rows(TextAnalysis.bpeLearnMerges(docs, "text", rounds = 5))
    val bytes = rows(ByteBpe.learn(docs, "text", rounds = 5))
    val pieces = rows(Wordpiece.learn(docs, "text", rounds = 5))
    for (every <- Seq(1, 2)) {
      assert(rows(TextAnalysis.bpeLearnMerges(docs, "text", rounds = 5,
        checkpointEvery = every)) == base)
      assert(rows(ByteBpe.learn(docs, "text", rounds = 5,
        checkpointEvery = every)) == bytes, s"ByteBpe every=$every diverged")
      assert(rows(Wordpiece.learn(docs, "text", rounds = 5,
        checkpointEvery = every)) == pieces,
        s"Wordpiece every=$every diverged")
    }
    graft.util.Caches.unpersistAll()
  }

  test("Fixpoint.iterate frees superseded localCheckpoint blocks eagerly") {
    // Dataset.unpersist alone is a CacheManager no-op for a
    // localCheckpoint-backed frame (its RDD was persisted directly, never
    // registered with CacheManager) — the driver must release the
    // superseded generation's blocks through the LogicalRDD's RDD, not
    // wait for GC-driven ContextCleaner reclaim. Serial test execution
    // (build.sbt) makes the persistent-RDD diff race-free.
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = graft.util.Fixpoint.iterate(spark, (1 to 100).toDF("x"), 5,
      "free_check", every = 1)(_.withColumn("x", col("x") + 1)).state
    assert(df.count() == 100)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size <= 1,
      s"superseded checkpoint generations leaked: ${held.size} RDDs held")
  }
}
