package graft.ops

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // a -> b, a -> c, b -> c: c should out-rank b, b out-rank a.
  private def edges = Seq(
    ("a", "b"), ("a", "c"), ("b", "c")
  ).toDF("src", "dst")

  test("ranks order by in-link mass; every node gets a row") {
    val r = Graph.pagerank(edges, iters = 3)
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> t._2).toMap
    assert(r.keySet == Set("a", "b", "c"))
    assert(r("c") > r("b"))
    assert(r("b") > r("a"))
  }

  test("rank_fp is exact long arithmetic: replayable by hand") {
    // N=3, init = 1e12/3 = 333333333333; base = init*150 div 1000.
    val init = 1000000000000L / 3
    val base = init * 150 / 1000
    // iter1: a gets base; b gets base + (init*850) div (2*1000);
    // c gets base + (init*850) div (2*1000) + (init*850) div 1000.
    val r1a = base
    val r1b = base + init * 850 / 2000
    // iter2 recomputes from r1.
    val r2b = base + r1a * 850 / 2000
    val r = Graph.pagerank(edges, iters = 2)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(r("b") == r2b, s"got ${r("b")}, want $r2b")
  }

  test("dangling nodes keep the base rank only") {
    val e = Seq(("x", "y")).toDF("src", "dst")
    val r = Graph.pagerank(e, iters = 3)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val init = 1000000000000L / 2
    assert(r("x") == init * 150 / 1000)
    assert(r("y") > r("x"))
  }

  test("duplicate input edges count once") {
    val dup = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst")
    val rDup = Graph.pagerank(dup, iters = 2)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val rRef = Graph.pagerank(edges, iters = 2)
      .as[(String, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    assert(rDup == rRef)
  }

  test("supplierCustomerEdges builds prefixed distinct pairs") {
    val li = Seq((100L, 7L), (100L, 7L), (101L, 8L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((100L, 42L), (101L, 42L)).toDF("o_orderkey", "o_custkey")
    val e = Graph.supplierCustomerEdges(li, ord)
      .as[(String, String)].collect().toSet
    assert(e == Set(("s7", "c42"), ("s8", "c42")))
  }

  test("total mass never exceeds the scale (leak-only, no creation)") {
    val total = Graph.pagerank(edges, iters = 3)
      .agg(org.apache.spark.sql.functions.sum("rank_fp"))
      .as[Long].collect().head
    assert(total <= Graph.RankScale)
  }

  test("triangleCounts: K4 has 4 triangles, 3 per node; path graph has none") {
    // complete graph on {1,2,3,4}: C(4,3)=4 triangles, each node in 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val out = Graph.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.triangleCounts(path).count() == 0L)
  }

  test("labelPropagation: neighbor majority with min tie-break, fixed rounds") {
    // two triangles bridged by one edge: 1-2-3 and 4-5-6, bridge 3-4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val out = Graph.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // round 1 gives every node its min neighbor id; round 2 the majority:
    // triangle {1,2,3} converges on 1's label
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    // stable under layout
    val again = Graph.labelPropagation(edges.repartition(5), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(again == out)
    graft.util.Caches.unpersistAll()
  }

  test("kCore: peels cascading removals; exact core at sufficient rounds") {
    // K4 on {1,2,3,4} plus a tail 4-5-6: the 3-core is exactly K4.
    val k4tail = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core3 = Graph.kCore(k4tail, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 4-core is empty (max within-core degree is 3)
    assert(Graph.kCore(k4tail, k = 4, rounds = 3).count() == 0L)
    // cascade: path 1-2-3-4-5 under k=2 unravels from both ends — one
    // round only strips the endpoints, three rounds reach the empty core
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val partial = Graph.kCore(path, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial.keySet == Set(2L, 3L, 4L)) // under-peeled, warns
    assert(Graph.kCore(path, k = 2, rounds = 3).count() == 0L)
    // layout-invariant
    val again = Graph.kCore(k4tail.repartition(7), k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(again == core3)
    graft.util.Caches.unpersistAll()
  }

  test("coOccurrenceEdges: canonical pairs within bounded groups only") {
    val df = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 1L), // dup member collapses
      (20L, 4L), (20L, 5L),
      (30L, 6L), (30L, 7L), (30L, 8L), (30L, 9L)  // size 4 > maxGroup 3
    ).toDF("g", "n")
    val e = Graph.coOccurrenceEdges(df, "g", "n", maxGroup = 3)
      .as[(Long, Long)].collect().toSet
    assert(e == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("linkPrediction: candidate non-edges ranked by common neighbors") {
    // path 1-2, 1-3, 1-4 (star on 1) plus edge 2-3: candidates through
    // center 1 are (2,3) [already an edge -> dropped], (2,4), (3,4);
    // center 2 and 3 wedges add common neighbor 1 pairs already counted?
    // wedge x-z-y counts once PER CENTER z: (2,4) shares only node 1.
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
      .toDF("a", "b")
    val out = Graph.linkPrediction(und, maxDegree = 10, minCommon = 1)
      .orderBy("node_a", "node_b")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // (2,4): common {1}, deg2=2, deg4=1 -> jaccard 1/(2+1-1) = 0.5
    // (3,4): common {1}, deg3=2, deg4=1 -> 0.5
    assert(out.toSeq == Seq(
      (2L, 4L, 1L, 2L, 1L, 0.5), (3L, 4L, 1L, 2L, 1L, 0.5)))
    graft.util.Caches.unpersistAll()
  }

  test("linkPrediction: minCommon prunes, existing edges never surface") {
    // K4 minus edge (3,4): (3,4) has commons {1,2} -> n_common 2
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val out = Graph.linkPrediction(und, maxDegree = 10, minCommon = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq((3L, 4L, 2L, 2L, 2L, 1.0)))
    graft.util.Caches.unpersistAll()
  }

  test("linkPrediction: hub centers are skipped, endpoints survive") {
    // hub 1 connects {2,3,4,5}; 2-3 also share low-degree center 6
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 6L), (3L, 6L)).toDF("a", "b")
    // maxDegree=3 drops hub 1 (deg 4) as a center: (2,3) arrives only
    // via center 6, and (1,6) still surfaces through centers 2 and 3 —
    // a skipped HUB CENTER does not hide the hub as an ENDPOINT
    val out = Graph.linkPrediction(und, maxDegree = 3, minCommon = 1)
      .orderBy("node_a", "node_b")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // deg2 = deg3 = 2 (hub edge still counts in degree)
    assert(out.toSeq == Seq(
      (1L, 6L, 2L, 4L, 2L, 0.5), (2L, 3L, 1L, 2L, 2L, 1.0 / 3)))
    graft.util.Caches.unpersistAll()
  }

  test("linkPrediction is layout-independent") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 120).map(_ => (rnd.nextInt(20).toLong,
      rnd.nextInt(20).toLong)).filter(p => p._1 < p._2).distinct
    val df1 = edges.toDF("a", "b")
    val df2 = df1.repartition(5)
      .sortWithinPartitions(org.apache.spark.sql.functions.desc("b"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.linkPrediction(d, maxDegree = 8, minCommon = 2)
        .orderBy("node_a", "node_b").collect().toSeq
    val r1 = run(df1); val r2 = run(df2)
    assert(r1 == r2 && r1.nonEmpty)
    graft.util.Caches.unpersistAll()
  }

  test("personalizedPagerank: teleport mass only on seeds, exact longs") {
    import org.apache.spark.sql.functions.col
    // a -> c, b -> c; seeds = {a}: b gets NO base mass and no inflow
    val e = Seq(("a", "c"), ("b", "c")).toDF("src", "dst")
    val out = Graph.personalizedPagerank(e, col("node") === "a", iters = 1)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    val scale = Graph.RankScale
    // r0: a = scale, b = 0, c = 0
    // r1(a) = (scale*150)//1000; r1(b) = 0
    // r1(c) = 0 + (scale*850)//1000 (from a) + 0 (from b)
    assert(out("a") == scale * 150 / 1000)
    assert(out("b") == 0L)
    assert(out("c") == scale * 850 / 1000)
  }

  test("neighborhoodSizes: exact radius-2 balls on a path, estimate sane") {
    // path 1-2-3-4-5: |ball_2| = 3,4,5,4,3
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val out = Graph.neighborhoodSizes(und, radius = 2).orderBy("node")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 4L), (3L, 5L), (4L, 4L), (5L, 3L)))
    // m=512 registers on <=5 items sit deep in the linear-counting
    // regime: the estimate tracks the exact count closely
    out.foreach { r =>
      val (exact, est) = (r.getLong(1).toDouble, r.getDouble(2))
      assert(math.abs(est - exact) / exact < 0.2,
        s"estimate $est too far from exact $exact")
    }
    graft.util.Caches.unpersistAll()
  }

  test("harmonicCentrality: exact radius-2 values on a path, estimate sane") {
    // path 1-2-3-4-5, truncated at radius 2:
    //   node 1: d(2)=1, d(3)=2            -> 1 + 1/2   = 1.5
    //   node 2: d(1)=d(3)=1, d(4)=2       -> 2 + 1/2   = 2.5
    //   node 3: d(2)=d(4)=1, d(1)=d(5)=2  -> 2 + 2/2   = 3.0
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val out = Graph.harmonicCentrality(und, radius = 2).orderBy("node")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.0), (4L, 2.5), (5L, 1.5)))
    // linear-counting regime: the estimate tracks the exact truncated
    // harmonic closely on a 5-node graph
    out.foreach { r =>
      val (exact, est) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(est - exact) / exact < 0.25,
        s"node ${r.getLong(0)}: estimate $est too far from exact $exact")
    }
    graft.util.Caches.unpersistAll()
  }

  test("harmonicCentrality: checkpointing and layout do not change output") {
    val und = (1L to 40L).map(i => (i, i % 13 + 41)).toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame, every: Int) =
      Graph.harmonicCentrality(d, radius = 3, checkpointEvery = every)
        .orderBy("node").collect().toSeq
    val base = run(und, 0)
    assert(run(und.repartition(7), 0) == base)
    assert(run(und, 1) == base)
    graft.util.Caches.unpersistAll()
  }

  test("neighborhoodFunction: monotone totals, terminal frac 1.0, sane") {
    // path 1-2-3-4-5: exact N(0)=5, N(1)=13, N(2)=19
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val out = Graph.neighborhoodFunction(und, radius = 2).orderBy("r")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L))
    val exact = Seq(5.0, 13.0, 19.0)
    out.zip(exact).foreach { case ((r, est, _), ex) =>
      assert(math.abs(est - ex) / ex < 0.25,
        s"r=$r estimate $est too far from exact $ex")
    }
    assert(out(0)._2 <= out(1)._2 && out(1)._2 <= out(2)._2,
      "ball totals must be monotone in r")
    assert(out(2)._3 == 1.0, "terminal cumulative fraction must be 1.0")
    graft.util.Caches.unpersistAll()
  }

  test("neighborhoodFunction reads every register generation from cache") {
    // the per-radius estimates read their rounds' generations lazily,
    // after the loop: at checkpointEvery = 0 the loop must keep them
    // cached, or the final action recomputes the register merges
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
        .toDF("a", "b")
      val out = Graph.neighborhoodFunction(und, radius = 3, m = 64)
      out.collect()
      val plan = out.queryExecution.executedPlan
      val walk =
        new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val nodes = walk.collect(plan) { case p => p }
      val merges = nodes.filter(_.expressions.exists(_.find(
        _.isInstanceOf[graft.functions.MergePackedRegisters]).isDefined))
      assert(merges.isEmpty, s"register merges recomputed:\n$plan")
      assert(nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]), plan)
    } finally {
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      graft.util.Caches.unpersistAll()
    }
  }

  test("neighborhoodSizes is layout-independent") {
    val und = (1L to 40L).map(i => (i, i % 13 + 41)).toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.neighborhoodSizes(d, radius = 2).orderBy("node")
        .collect().toSeq
    assert(run(und) == run(und.repartition(7)))
    graft.util.Caches.unpersistAll()
  }

  test("deterministicWalks: valid edges, full coverage, layout-independent") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val out = Graph.deterministicWalks(und, length = 3, salt = "t")
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 4 nodes x (length+1) steps
    assert(rows.length == 16)
    assert(rows.filter(_._2 == 0).map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // every consecutive (step t -> t+1) hop is a real edge
    val edges = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    val byWalk = rows.groupBy(_._1).values
    byWalk.foreach { w =>
      val path = w.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Array(x, y) =>
        assert(edges.contains((x, y)), s"hop $x->$y is not an edge")
      }
    }
    // stable under partitioning; a new salt re-deals
    val again = Graph.deterministicWalks(und.repartition(5), 3, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
    val other = Graph.deterministicWalks(und, 3, "u")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(other.sortBy(r => (r._1, r._2)).map(_._3).toSeq !=
      rows.sortBy(r => (r._1, r._2)).map(_._3).toSeq,
      "a new salt must re-deal the walks")
    graft.util.Caches.unpersistAll()
  }

  test("labelPropagation keeps native label types (string nodes work)") {
    // triangle u-v-w plus pendant x attached to u: labels are string ids
    val e = Seq(("u", "v"), ("u", "w"), ("v", "w"), ("u", "x"))
      .toDF("a", "b")
    val out = Graph.labelPropagation(e, iters = 2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.keySet == Set("u", "v", "w", "x"))
    // the dense triangle converges on its smallest member label
    assert(out("v") == "u" && out("w") == "u")
  }

  test("modularity: hand-computed Q contributions, isolated community zero") {
    // triangle {1,2,3} (community A) + edge {4,5} (B) + isolated 6 (C):
    // m=4; A: e=3, d=6 -> 3/4 - (6/8)^2 = 0.1875; B: e=1, d=2 ->
    // 1/4 - (2/8)^2 = 0.1875; C: no edges -> 0
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val asg = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "C")).toDF("node", "community")
    val out = Graph.modularity(e, asg).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("A") == ((3L, 3L, 6L, 0.1875)))
    assert(out("B") == ((2L, 1L, 2L, 0.1875)))
    assert(out("C") == ((1L, 0L, 0L, 0.0)))
    // Q over a perfect 2-clique partition beats a degenerate one-community
    // assignment (whose Q is 0 by definition: e=m, d=2m)
    import org.apache.spark.sql.functions.{lit, sum}
    val one = asg.withColumn("community", lit("all"))
    val q1 = Graph.modularity(e, one).agg(sum("q_contrib")).head.getDouble(0)
    assert(math.abs(q1) < 1e-9, s"one-community Q must be 0, got $q1")
    graft.util.Caches.unpersistAll()
  }

  test("assortativity: star is -1, regular graphs report 0") {
    // star: the hub (deg 3) only touches leaves (deg 1) -> perfect
    // degree anti-correlation
    val star = Seq(("h", "x"), ("h", "y"), ("h", "z")).toDF("a", "b")
    val s = Graph.assortativity(star).collect().head
    assert(s.getAs[Long]("n_edges") == 3L)
    assert(s.getAs[Long]("n_nodes") == 4L)
    assert(s.getAs[Double]("assortativity") == -1.0)
    // triangle: every degree is 2, zero variance -> 0 by convention
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("a", "b")
    assert(Graph.assortativity(tri).collect().head
      .getAs[Double]("assortativity") == 0.0)
  }

  test("assortativity matches a plain-Scala Pearson reference") {
    val es = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("b", "d"), ("a", "e"), ("e", "f"))
    val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val xs = es.flatMap(e => Seq(deg(e._1).toDouble, deg(e._2).toDouble))
    val ys = es.flatMap(e => Seq(deg(e._2).toDouble, deg(e._1).toDouble))
    val n = xs.size.toDouble
    val sx = xs.sum; val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val ref = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    val got = Graph.assortativity(es.toDF("a", "b")).collect().head
    assert(math.abs(got.getAs[Double]("assortativity") - ref) < 1e-6)
    // exact integer sufficient statistics: layout cannot move a digit
    val again = Graph.assortativity(es.toDF("a", "b").repartition(5))
      .collect().head
    assert(again.toString == got.toString)
  }

  private def sccMap(es: Seq[(String, String)]): Map[String, String] =
    Graph.scc(es.toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("scc: two 2-cycles joined one-way stay separate components") {
    val m = sccMap(Seq(("a", "b"), ("b", "a"), ("b", "c"),
      ("c", "d"), ("d", "c")))
    assert(m == Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c"), s"$m")
    graft.util.Caches.unpersistAll()
  }

  test("scc: a DAG is all singletons (direction matters, unlike CC)") {
    val m = sccMap(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")))
    assert(m == Map("a" -> "a", "b" -> "b", "c" -> "c", "d" -> "d"), s"$m")
    graft.util.Caches.unpersistAll()
  }

  test("scc: shared forward-min AND backward-min do not merge distinct " +
      "components (the naive two-propagation counterexample)") {
    // n2 reaches both n3 and n4; both reach n1 — n3/n4 share
    // (fwd-min=n1, bwd-min=n2) yet are separate singleton SCCs
    val m = sccMap(Seq(("n2", "n3"), ("n2", "n4"), ("n3", "n1"),
      ("n4", "n1")))
    assert(m == Map("n1" -> "n1", "n2" -> "n2", "n3" -> "n3", "n4" -> "n4"),
      s"$m")
    graft.util.Caches.unpersistAll()
  }

  test("scc: chain of cycles peels across outer rounds; self-loop is a " +
      "singleton component of itself") {
    // a<->b -> c<->d -> e<->f, plus g with a self-loop and h isolated-ish
    val m = sccMap(Seq(("a", "b"), ("b", "a"), ("b", "c"),
      ("c", "d"), ("d", "c"), ("d", "e"),
      ("e", "f"), ("f", "e"), ("g", "g"), ("g", "h")))
    assert(m == Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c",
      "e" -> "e", "f" -> "e", "g" -> "g", "h" -> "h"), s"$m")
    graft.util.Caches.unpersistAll()
  }

  test("topoLayers: contracted cycle layers once; diamond takes the " +
      "LONGEST path; isolated edge components are their own layers") {
    // a -> {b<->c} -> d, plus diamond a -> x -> d (x singleton):
    // layers a=0, {b,c}=1, x=1, d=2 (longest path wins: a->bc->d)
    val out = Graph.topoLayers(Seq(
        ("a", "b"), ("b", "c"), ("c", "b"), ("c", "d"),
        ("a", "x"), ("x", "d")).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map("a" -> ((1L, 0L)), "b" -> ((2L, 1L)),
      "x" -> ((1L, 1L)), "d" -> ((1L, 2L))), s"$out")
    graft.util.Caches.unpersistAll()
  }

  test("topoLayers is layout-independent; a pure cycle is one layer-0 row") {
    val es = Seq(("p", "q"), ("q", "r"), ("r", "p"))
    val one = Graph.topoLayers(es.toDF("src", "dst")).collect()
    assert(one.length == 1 && one.head.getString(0) == "p"
      && one.head.getLong(1) == 3L && one.head.getLong(2) == 0L)
    val base = Graph.topoLayers(
      Seq(("a", "b"), ("b", "c"), ("c", "b"), ("c", "d"), ("a", "x"),
        ("x", "d")).toDF("src", "dst")).orderBy("scc")
      .collect().map(_.toString).toSeq
    val again = Graph.topoLayers(
      Seq(("a", "b"), ("b", "c"), ("c", "b"), ("c", "d"), ("a", "x"),
        ("x", "d")).toDF("src", "dst").repartition(7)).orderBy("scc")
      .collect().map(_.toString).toSeq
    assert(again == base)
    graft.util.Caches.unpersistAll()
  }

  test("scc is layout-independent and matches CC on a symmetric graph") {
    val es = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("x", "y"), ("y", "x"))
    val base = sccMap(es)
    val again = Graph.scc(es.toDF("src", "dst").repartition(7))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == base)
    // fully symmetric digraph: SCC == undirected CC
    val cc = Dedup.connectedComponents(
        es.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(base == cc, s"scc=$base cc=$cc")
    graft.util.Caches.unpersistAll()
  }

  test("clusteringCoefficients: a triangle is all 1s; a pendant node " +
      "scores 0 and dilutes its neighbor") {
    // triangle 1-2-3 plus pendant 4-1
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val out = Graph.clusteringCoefficients(und).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // node 1: deg 3, 1 triangle -> 2/(3*2) = 1/3
    assert(out.toSeq == Seq((1L, 3L, 1L, 0.333333),
      (2L, 2L, 1L, 1.0), (3L, 2L, 1L, 1.0), (4L, 1L, 0L, 0.0)))
    graft.util.Caches.unpersistAll()
  }

  test("reciprocity: mutual pairs counted, loops and duplicates " +
      "ignored") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L), (3L, 3L))
      .toDF("src", "dst")
    val r = Graph.reciprocity(e).collect().head
    // distinct non-loop edges: (1,2),(2,1),(1,3) -> 2 reciprocated
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.666667)
    // a pure DAG has reciprocity 0
    assert(Graph.reciprocity(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
      .collect().head.getDouble(2) == 0.0)
    graft.util.Caches.unpersistAll()
  }

  test("degreePowerLaw matches the hand-evaluated CSN alpha; empty " +
      "tail emits NULL") {
    // star: center degree 5, leaves degree 1 each
    val und = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val r = Graph.degreePowerLaw(und, dMin = 2).collect().head
    // tail at dMin=2: only the center (deg 5)
    assert(r.getLong(1) == 1L)
    val lnTerm = math.round(math.log(5.0 / 1.5) * 1048576.0) / 1048576.0
    val want = BigDecimal(1.0 + 1.0 / lnTerm)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) == want, s"${r.getDouble(2)} vs $want")
    // nobody reaches dMin=10 -> NULL alpha
    val none = Graph.degreePowerLaw(und, dMin = 10).collect().head
    assert(none.getLong(1) == 0L && none.isNullAt(2))
    graft.util.Caches.unpersistAll()
  }

  test("katz: hand-computed path-graph walks, no out-degree dilution " +
      "(vs pagerank), overflow guard is loud, layout-invariant") {
    import spark.implicits._
    // path a -> b -> c, alpha = 1/2, 2 iterations:
    // x1 = (1, 1.5, 1.5); x2 = (1, 1.5, 1.75)
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = Graph.katz(e, iters = 2, alphaNum = 500, alphaDen = 1000)
      .orderBy("node").collect()
    assert(r.map(_.getAs[Double]("katz")).toSeq == Seq(1.0, 1.5, 1.75))
    // a hub fanning out to many nodes endorses each FULLY — every leaf
    // gets the same katz as a single-edge target (pagerank would
    // dilute by the out-degree)
    val fan = (1 to 10).map(i => ("h", s"l$i")).toDF("src", "dst")
    val rf = Graph.katz(fan, iters = 1, alphaNum = 500, alphaDen = 1000)
      .collect()
    assert(rf.filter(_.getString(0).startsWith("l"))
      .forall(_.getAs[Double]("katz") == 1.5))
    // overflow guard: a 3000-in-degree star at alpha 0.5 over 6 rounds
    // would wrap long fixed-point — loud, never silent
    val star = (1 to 3000).map(i => (s"s$i", "hub")).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.katz(star, iters = 6, alphaNum = 500, alphaDen = 1000)
    }
    assert(ex.getMessage.contains("overflow"), ex.getMessage)
    // exact long arithmetic: layout cannot change a bit
    val rp = Graph.katz(e.repartition(5), iters = 2, alphaNum = 500,
      alphaDen = 1000).orderBy("node").collect()
    assert(r.toSeq == rp.toSeq)
    graft.util.Caches.unpersistAll()
  }

  test("hits: exact fixed-point hand replay, hub/authority roles " +
      "separated on the DAG") {
    // a -> b, a -> c, b -> c: a is a pure hub (no in-edges), c a pure
    // authority (no out-edges). Replay the two L1-normalized rounds in
    // plain long math (floor division, non-negative operands).
    val S = Graph.HitsScale
    val h0 = S / 3
    val at1 = h0 + 2 * h0
    val a1B = h0 * S / at1; val a1C = 2 * h0 * S / at1
    val ht1 = (a1B + a1C) + a1C
    val h1A = (a1B + a1C) * S / ht1; val h1B = a1C * S / ht1
    val at2 = h1A + (h1A + h1B)
    val a2B = h1A * S / at2; val a2C = (h1A + h1B) * S / at2
    val ht2 = (a2B + a2C) + a2C
    val h2A = (a2B + a2C) * S / ht2; val h2B = a2C * S / ht2
    val r = Graph.hits(edges, iters = 2).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("a") == (0L, h2A), r.toString)
    assert(r("b") == (a2B, h2B), r.toString)
    assert(r("c") == (a2C, 0L), r.toString)
    // hub mass strictly on the hub side, auth mass on the auth side
    assert(r("a")._2 > r("b")._2 && r("c")._1 > r("b")._1)
    graft.util.Caches.unpersistAll()
  }

  test("hits: duplicate edges count once; layout cannot change a bit") {
    val dup = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst")
    val ref = Graph.hits(edges, iters = 2).orderBy("node").collect()
    assert(Graph.hits(dup, iters = 2).orderBy("node").collect()
      .toSeq == ref.toSeq)
    assert(Graph.hits(edges.repartition(7), iters = 2).orderBy("node")
      .collect().toSeq == ref.toSeq)
    graft.util.Caches.unpersistAll()
  }

  test("ktruss: K4 survives at k=4 with support 2, pendant edges drop, " +
      "k=5 empties it") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("a", "b")
    val t4 = Graph.kTruss(k4, k = 4).orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(t4 == Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), t4)
    assert(Graph.kTruss(k4, k = 5).count() == 0)
    // k=3: any triangle evidence keeps an edge; only the pendant drops
    assert(Graph.kTruss(k4, k = 3).count() == 6)
    graft.util.Caches.unpersistAll()
  }

  test("ktruss: removal cascades — K4 minus an edge unravels at k=4, " +
      "and a 1-round budget stops early with a well-defined support") {
    // edges (1,2),(1,3),(2,3),(2,4),(3,4): only (2,3) closes 2
    // triangles; once the others drop, (2,3) has no support either
    val frame = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    assert(Graph.kTruss(frame, k = 4, rounds = 8).count() == 0)
    // budget of 1: the cascade is cut short; the survivor reports the
    // RECOMPUTED support on the surviving subgraph (0), never a stale 2
    val budget1 = Graph.kTruss(frame, k = 4, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(budget1 == Seq((2L, 3L, 0L)), budget1)
    // layout + duplicate-edge invariance
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val a1 = Graph.kTruss(dup, k = 3).orderBy("a", "b").collect().toSeq
    val a2 = Graph.kTruss(dup.repartition(7), k = 3).orderBy("a", "b")
      .collect().toSeq
    assert(a1 == a2)
    intercept[IllegalArgumentException] { Graph.kTruss(frame, k = 2) }
    graft.util.Caches.unpersistAll()
  }

  test("ktruss: string ids peel identically with broadcast anti-joins off") {
    // K4 plus a triangle on one of its nodes and a pendant: at k=4 the
    // outer triangle and the pendant peel in round 1, whose removed set
    // feeds the round's three anti-joins — a broadcast build side while
    // its bytes fit spark.sql.autoBroadcastJoinThreshold, a shuffle
    // anti-join with the threshold at -1
    val g = Seq(("n1", "n2"), ("n1", "n3"), ("n1", "n4"), ("n2", "n3"),
      ("n2", "n4"), ("n3", "n4"), ("n4", "n5"), ("n4", "n6"), ("n5", "n6"),
      ("n6", "n7")).toDF("a", "b")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def run(threshold: Option[String]): (Seq[(String, String, Long)], String) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ktruss_plans")
      threshold.foreach(spark.conf.set(key, _))
      spark.conf.set("spark.graft.planDumpDir", dir.toString)
      try {
        val truss = Graph.kTruss(g, k = 4).orderBy("a", "b").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        (truss, java.nio.file.Files.readString(dir.resolve("ktruss_round_1.txt")))
      } finally {
        spark.conf.unset(key)
        spark.conf.unset("spark.graft.planDumpDir")
        val dumps = java.nio.file.Files.list(dir)
        try dumps.forEach(java.nio.file.Files.delete(_)) finally dumps.close()
        java.nio.file.Files.delete(dir)
        graft.util.Caches.unpersistAll()
      }
    }
    val (broadcastTruss, broadcastPlan) = run(None)
    val (shuffleTruss, shufflePlan) = run(Some("-1"))
    val k4 = Seq(("n1", "n2"), ("n1", "n3"), ("n1", "n4"), ("n2", "n3"),
      ("n2", "n4"), ("n3", "n4")).map { case (a, b) => (a, b, 2L) }
    assert(broadcastTruss == k4, broadcastTruss)
    assert(shuffleTruss == broadcastTruss)
    // the formatted tree names each join with its type: "<Kind> LeftAnti"
    def antiJoins(plan: String): Seq[String] =
      """(\w+Join) LeftAnti""".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(antiJoins(broadcastPlan) == Seq.fill(3)("BroadcastHashJoin"),
      broadcastPlan)
    assert(antiJoins(shufflePlan).size == 3 &&
      !antiJoins(shufflePlan).contains("BroadcastHashJoin"), shufflePlan)
  }

  test("hits: bipartite graph splits the roles exactly — sources have " +
      "zero authority, sinks zero hubness, each side sums to ~scale") {
    val e = Seq(("s1", "c1"), ("s1", "c2"), ("s2", "c2"), ("s3", "c2"))
      .toDF("src", "dst")
    val r = Graph.hits(e, iters = 3).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    Seq("s1", "s2", "s3").foreach(s => assert(r(s)._1 == 0L))
    Seq("c1", "c2").foreach(c => assert(r(c)._2 == 0L))
    // L1 normalization: each role's mass sums to scale up to floor loss
    val authSum = r.values.map(_._1).sum
    val hubSum = r.values.map(_._2).sum
    assert(authSum <= Graph.HitsScale && authSum > Graph.HitsScale - 10)
    assert(hubSum <= Graph.HitsScale && hubSum > Graph.HitsScale - 10)
    // c2 (in-degree 3) out-ranks c1; s1 (endorses both) out-ranks s2
    assert(r("c2")._1 > r("c1")._1 && r("s1")._2 > r("s2")._2)
    graft.util.Caches.unpersistAll()
  }
}
