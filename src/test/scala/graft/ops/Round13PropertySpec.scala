package graft.ops

import graft.SparkSpec

/** Round-13 pins: the new decomposition/dedup/statistics operators
  * cross-checked against BRUTE-FORCE in-memory references on seeded
  * random inputs — the evidence class for algorithms whose distributed
  * formulation (peeled fixpoints, diagonal islands, distributed rank)
  * is far from the textbook statement.
  */
class Round13PropertySpec extends SparkSpec {
  import spark.implicits._

  // ---- brute-force references -------------------------------------

  /** Reachability closure by repeated squaring over a boolean matrix. */
  private def closure(n: Int, edges: Set[(Int, Int)]): Array[Array[Boolean]] = {
    val r = Array.ofDim[Boolean](n, n)
    edges.foreach { case (a, b) => r(a)(b) = true }
    var changed = true
    while (changed) {
      changed = false
      for (i <- 0 until n; j <- 0 until n if r(i)(j); k <- 0 until n)
        if (r(j)(k) && !r(i)(k)) { r(i)(k) = true; changed = true }
    }
    r
  }

  /** SCC id per node = min mutually-reachable node (self included). */
  private def bruteScc(n: Int, edges: Set[(Int, Int)]): Map[Int, Int] = {
    val r = closure(n, edges)
    (0 until n).map { v =>
      val mutual = (0 until n).filter(u =>
        u == v || (r(v)(u) && r(u)(v)))
      v -> mutual.min
    }.toMap
  }

  /** Longest common word-substring length between two word seqs. */
  private def bruteLcs(a: Seq[String], b: Seq[String]): Int = {
    val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
    var best = 0
    for (i <- 1 to a.size; j <- 1 to b.size)
      if (a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        best = math.max(best, dp(i)(j))
      }
    best
  }

  // ---- pins ---------------------------------------------------------

  test("scc matches brute-force mutual reachability on random digraphs") {
    // the trials cycle through session shuffle partitions {1, 7} x AQE
    // on/off: the label rounds scope both, the trim rounds inherit AQE
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val settings = for (parts <- Seq("1", "7"); aqe <- Seq("true", "false"))
      yield (parts, aqe)
    val rnd = new scala.util.Random(13)
    try for (trial <- 1 to 5) {
      val n = 4 + rnd.nextInt(6)
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < 0.28
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        val (parts, aqe) = settings((trial - 1) % settings.size)
        spark.conf.set(partsKey, parts)
        spark.conf.set(aqeKey, aqe)
        val want = bruteScc(n, edges)
          .map { case (v, c) => (f"n$v%02d", f"n$c%02d") }
        val covered = edges.flatMap(e => Seq(e._1, e._2))
        val got = Graph.scc(
            edges.toSeq.map { case (a, b) => (f"n$a%02d", f"n$b%02d") }
              .toDF("src", "dst"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val wantCovered = want.filter { case (v, _) =>
          covered.contains(v.drop(1).toInt) }
        assert(got == wantCovered, s"trial $trial n=$n partitions=$parts " +
          s"aqe=$aqe edges=$edges\n got=$got\nwant=$wantCovered")
        assert(spark.conf.get(aqeKey) == aqe, s"AQE leaked in trial $trial")
        assert(spark.conf.get(partsKey) == parts,
          s"shuffle partitions leaked in trial $trial")
        graft.util.Caches.unpersistAll()
      }
    } finally {
      spark.conf.set(partsKey, "4")
      spark.conf.set(aqeKey, "true")
    }
  }

  test("topoLayers matches brute longest-path on the brute condensation") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 5 + rnd.nextInt(4)
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < 0.3
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        val scc = bruteScc(n, edges)
        val ce = edges.map { case (a, b) => (scc(a), scc(b)) }
          .filter { case (x, y) => x != y }
        val comps = scc.values.toSet
        // longest path by relaxation to fixpoint (DAG: terminates)
        val layer = scala.collection.mutable.Map(
          comps.map(_ -> 0).toSeq: _*)
        var changed = true
        while (changed) {
          changed = false
          ce.foreach { case (x, y) =>
            if (layer(x) + 1 > layer(y)) { layer(y) = layer(x) + 1; changed = true }
          }
        }
        val covered = edges.flatMap(e => Seq(e._1, e._2))
        val want = comps.filter(c => scc.exists { case (v, cc) =>
            cc == c && covered.contains(v) })
          .map { c =>
            val members = scc.count { case (v, cc) =>
              cc == c && covered.contains(v) }
            (f"n$c%02d", members.toLong, layer(c).toLong)
          }
        val got = Graph.topoLayers(
            edges.toSeq.map { case (a, b) => (f"n$a%02d", f"n$b%02d") }
              .toDF("src", "dst"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == want, s"trial $trial edges=$edges\n got=$got\nwant=$want")
        graft.util.Caches.unpersistAll()
      }
    }
  }

  test("dupSubstring shared_words equals brute longest common substring") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val docs = (0 until 24).map { i =>
      val len = 6 + rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))))
    }
    val n = 3
    val got = TextAnalysis.dupSubstring(
        docs.map { case (id, ws) => (id, ws.mkString(" ")) }
          .toDF("doc_id", "text"), "doc_id", "text", n = n,
        maxDf = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val want = (for {
      (ia, wa) <- docs; (ib, wb) <- docs if ia < ib
      l = bruteLcs(wa, wb) if l >= n
    } yield (ia, ib) -> l.toLong).toMap
    assert(got == want,
      s"pairs got=${got.size} want=${want.size}\n" +
        (got.toSet -- want.toSet).take(5).mkString(" ") + " | " +
        (want.toSet -- got.toSet).take(5).mkString(" "))
    graft.util.Caches.unpersistAll()
  }

  test("mannWhitney / wilcoxon / spearman / chi2 match in-memory " +
      "references on random data (ranks, midranks, ties, margins)") {
    val rnd = new scala.util.Random(41)
    // --- Mann-Whitney: brute 2U by pair comparison ---
    val as = Seq.fill(25)((rnd.nextInt(8)).toDouble)
    val bs = Seq.fill(30)((rnd.nextInt(8)).toDouble)
    val brute2U = (for (x <- as; y <- bs) yield {
      if (y < x) 2L else if (y == x) 1L else 0L
    }).sum
    val mw = Drift.mannWhitney(as.toDF("v"), bs.toDF("v"), "v")
      .collect().head
    assert(mw.getAs[Double]("u_a") == brute2U / 2.0,
      s"U ${mw.getAs[Double]("u_a")} vs brute ${brute2U / 2.0}")
    graft.util.Caches.unpersistAll()
    // --- Wilcoxon: brute W+ via midranks of |d| ---
    val pairs = Seq.fill(40)((rnd.nextInt(6).toDouble, rnd.nextInt(6).toDouble))
    val ds = pairs.map { case (b, a) => a - b }.filter(_ != 0.0)
    val sorted = ds.map(math.abs).sorted
    def midrank(a: Double): Double = {
      val lo = sorted.indexWhere(_ == a)
      val hi = sorted.lastIndexWhere(_ == a)
      (lo + hi).toDouble / 2 + 1
    }
    val bruteWp = ds.filter(_ > 0).map(d => midrank(math.abs(d))).sum
    val wx = Drift.wilcoxonSignedRank(
      pairs.toDF("before", "after"), "before", "after").collect().head
    assert(wx.getAs[Double]("w_plus") == bruteWp,
      s"W+ ${wx.getAs[Double]("w_plus")} vs brute $bruteWp")
    graft.util.Caches.unpersistAll()
    // --- Spearman: brute midrank Pearson ---
    val xs = Seq.fill(35)(rnd.nextInt(10).toDouble)
    val ys = xs.map(x => x * 2 + rnd.nextInt(5))
    def ranks(v: Seq[Double]): Seq[Double] = {
      val s = v.sorted
      v.map { x =>
        (s.indexWhere(_ == x) + s.lastIndexWhere(_ == x)).toDouble / 2 + 1
      }
    }
    val (rx, ry) = (ranks(xs), ranks(ys))
    val n = xs.size.toDouble
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val num = n * a.zip(b).map { case (p, q) => p * q }.sum - a.sum * b.sum
      val den = math.sqrt(n * a.map(p => p * p).sum - a.sum * a.sum) *
        math.sqrt(n * b.map(q => q * q).sum - b.sum * b.sum)
      num / den
    }
    val want = pearson(rx, ry)
    val got = Drift.spearman(xs.zip(ys).toDF("x", "y"), "x", "y")
      .collect().head.getAs[Double]("rho")
    assert(math.abs(got - want) < 1e-5, s"rho $got vs brute $want")
    graft.util.Caches.unpersistAll()
    // --- chi2: brute full-grid Pearson statistic ---
    val cats = Seq.fill(120)((s"x${rnd.nextInt(3)}", s"y${rnd.nextInt(4)}"))
    val cellCnt = cats.groupBy(identity).view.mapValues(_.size).toMap
    val rxm = cats.groupBy(_._1).view.mapValues(_.size).toMap
    val cym = cats.groupBy(_._2).view.mapValues(_.size).toMap
    val nn = cats.size.toDouble
    val bruteChi = (for (x <- rxm.keys; y <- cym.keys) yield {
      val e = rxm(x) * cym(y) / nn
      val o = cellCnt.getOrElse((x, y), 0).toDouble
      (o - e) * (o - e) / e
    }).sum
    val chi = Drift.chiSquareIndependence(cats.toDF("x", "y"), "x", "y")
      .collect().head.getAs[Double]("chi2")
    assert(math.abs(chi - bruteChi) < 1e-4, s"chi2 $chi vs brute $bruteChi")
    graft.util.Caches.unpersistAll()
  }

  test("bhAdjust matches the in-memory step-up rule on random p vectors") {
    val rnd = new scala.util.Random(97)
    for (trial <- 1 to 3) {
      val m = 10 + rnd.nextInt(40)
      val ps = (0 until m).map(i => (i.toLong,
        math.pow(rnd.nextDouble(), 1 + (i % 3))))
      val alpha = 0.1
      val sorted = ps.sortBy { case (id, p) => (p, id) }
      val kStar = sorted.zipWithIndex
        .filter { case ((_, p), k) => p * m <= (k + 1) * alpha }
        .map(_._2 + 1).lastOption.getOrElse(0)
      val rejectIds = sorted.take(kStar).map(_._1).toSet
      val got = Drift.bhAdjust(ps.toDF("id", "p"), Seq("id"), "p", alpha)
        .collect().filter(_.getAs[Boolean]("reject"))
        .map(_.getAs[Long]("id")).toSet
      assert(got == rejectIds, s"trial $trial m=$m got=$got want=$rejectIds")
      graft.util.Caches.unpersistAll()
    }
  }
}
