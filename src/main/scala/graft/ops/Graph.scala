package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph operators over edge tables (SURVEY §2.3 north-star family).
  * PageRank complements the dedup module's connected components: CC finds
  * duplicate clusters, PageRank ranks nodes by link structure — the
  * classic web-corpus quality prior for training-data curation.
  *
  * Determinism contract: all rank arithmetic is fixed-point LONG math —
  * ranks are scaled to 1e12, per-edge contributions use exact integer
  * division (floor, positive operands), and per-node accumulation is a
  * SUM of longs, exact and order-insensitive — so a DuckDB replay with
  * `//` produces bit-identical ranks after any shuffle order.
  *
  * Scale shape: edges are deduplicated and joined with out-degrees ONCE
  * and cached by the caller if iterating many times; each iteration is
  * one hash join ranks⨝edges on src (both sides hash-partitioned on the
  * join key) plus one map-side-combined SUM keyed dst. Rank state is one
  * row per node — never collected to the driver. Like
  * [[Dedup.connectedComponents]], long chains of iterations should
  * checkpoint to truncate lineage; at 3 fixed iterations the plan is
  * shallow enough not to need it.
  */
object Graph {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Rank fixed-point scale: 1e12 (12 decimal digits). */
  val RankScale = 1000000000000L

  /** Exact integer division a div b for non-negative operands, staying in
    * long space: (a - a mod b) is an exact multiple of b and <= ~1e15, so
    * the double division below is exact. Matches DuckDB's `//`.
    */
  /** Exact long integer division (round 19 — the previous
    * `((a - a%b)/b).cast("long")` routed the quotient through DOUBLE
    * division, exact only below 2^53: a rank-scaled numerator past that
    * drifts ±1 ulp and silently breaks the bit-identical-replay
    * contract long before any long overflow). `IntegralDivide` is the
    * SQL `div` operator: codegen'd long/long division, no floating
    * point anywhere. Both operands are non-negative at every call site
    * (fixed-point ranks x positive scale factors), where truncating and
    * flooring division agree.
    */
  private def ldiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Directed edge table supplier->customer derived from the TPC-H-ish
    * star: one edge per (supplier, customer) pair that ever shared an
    * order line. Node ids are prefixed ("s123" / "c45") so the two id
    * spaces cannot collide.
    */
  def supplierCustomerEdges(lineitem: DataFrame, orders: DataFrame): DataFrame =
    // NOT persisted (round-19 measurement): single-action consumers
    // (pagerank, reciprocity) compile the repeated subtree to identical
    // exchanges that physical planning dedups (ReusedExchange), so a
    // persist here only added the MEMORY_AND_DISK materialization cost
    // — pagerank read 1.5x its baseline with one. Operators that issue
    // MULTIPLE actions over the edges persist their own canonicalized
    // copy instead ([[katz]]'s guard + rounds; [[hits]]).
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
      .distinct()

  /** Fixed-iteration PageRank with damping `dampNum/dampDen` (default
    * 0.85). Dangling nodes (no out-edges) contribute nothing — their
    * mass leaks, the standard simplification; ranks remain a strict
    * total order signal. Output: (node, rank_fp, rank) for every node.
    *
    * rank_fp(v) = (init * (dampDen-dampNum)) div dampDen
    *            + Σ_{u→v} (rank_fp(u) * dampNum) div (outdeg(u) * dampDen)
    * with init = RankScale div N, all in exact long arithmetic.
    *
    * `checkpointEvery` (0 = off): truncate the rank table's lineage every
    * N rounds ([[graft.util.Fixpoint]]) — at the default 3 iterations
    * the plan is shallow and the knob is off; long-horizon runs
    * (iters ≳ 10) should set it to 2-3 so plan depth stays bounded.
    */
  def pagerank(edges: DataFrame, iters: Int = 3,
      dampNum: Long = 850, dampDen: Long = 1000,
      checkpointEvery: Int = 0): DataFrame =
    pagerankImpl(edges, iters, dampNum, dampDen, None, checkpointEvery)

  /** Personalized PageRank: teleport mass lands ONLY on the seed nodes
    * (`seedPred` over the `node` column) — ranks become proximity to the
    * seed set instead of global centrality, the standard
    * recommendation / related-entity primitive. Non-seeds start (and
    * re-base each iteration) at 0; seeds split the teleport mass
    * equally in the same exact fixed-point arithmetic as [[pagerank]].
    * Same plan shape — one extra broadcast of the one-row seed count.
    */
  def personalizedPagerank(edges: DataFrame, seedPred: Column,
      iters: Int = 3, dampNum: Long = 850,
      dampDen: Long = 1000, checkpointEvery: Int = 0): DataFrame =
    pagerankImpl(edges, iters, dampNum, dampDen, Some(seedPred),
      checkpointEvery)

  private def pagerankImpl(edges: DataFrame, iters: Int,
      dampNum: Long, dampDen: Long, seedPred: Option[Column],
      checkpointEvery: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampDen > dampNum,
      s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    // NOT persisted (round-19 measurement): the whole fixed-iteration
    // rank chain is ONE action — the repeated e/nodes subtrees compile
    // to identical exchanges that physical planning already dedups
    // (ReusedExchange), so a persist here only adds the MEMORY_AND_DISK
    // materialization cost (pagerank read 1.47x its baseline with one).
    val e = edges.select(col("src"), col("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    // uniform start over all nodes, or over the seed set only
    val init = seedPred match {
      case None =>
        nodes.crossJoin(broadcast(n))
          .select(col("node"), ldiv(lit(RankScale), col("n_nodes")).as("r"))
      case Some(p) =>
        val ns = nodes.where(p).agg(count(lit(1)).as("n_seeds"))
        nodes.crossJoin(broadcast(ns))
          .select(col("node"),
            when(p, ldiv(lit(RankScale), col("n_seeds")))
              .otherwise(lit(0L)).as("r"))
    }
    val eo = e.join(outdeg, "src") // (src, dst, od)
    val ranks = graft.util.Fixpoint.iterate(init, iters, "pagerank",
        every = checkpointEvery) { ranks =>
      val contrib = eo
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          ldiv(col("r") * dampNum, col("od") * dampDen).as("c"))
        .groupBy("node").agg(sum("c").as("cs"))
      init
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (ldiv(col("r") * (dampDen - dampNum), lit(dampDen))
            + coalesce(col("cs"), lit(0L))).as("r"))
    }.state
    ranks.select(col("node"), col("r").as("rank_fp"),
      (col("r").cast("double") / RankScale).as("rank"))
  }

  /** Katz centrality (Katz 1953) — the walk-counting centrality beside
    * [[pagerank]]: x(v) = Σ_{k≥0} α^k · (#walks of length k ending at
    * v), iterated as x_{t+1}(v) = β + α · Σ_{u→v} x_t(u) with β = 1 and
    * a PINNED iteration count (the [[pagerank]] fixed-iterations
    * contract — the output is the depth-`iters` truncation, a defined
    * quantity in itself). Where PageRank DILUTES each node's
    * contribution by its out-degree (a vote split among many links is
    * worth less), Katz does not — a hub endorsing 1000 nodes endorses
    * each fully — so the two disagree exactly on mass-linkers, which is
    * why link-analysis practice reads both.
    *
    * α as an exact rational `alphaNum/alphaDen` (default 150/1000);
    * per-edge contributions are floor-divided in long space and summed
    * exactly — the [[pagerank]] fixed-point convention, bit-identical
    * under any partitioning. Without out-degree dilution the iterate
    * can GROW: the worst case r_max(t+1) = β·scale + d_in_max·⌊r_max(t)
    * ·α⌋ is pre-computed in BigInt from the observed max in-degree and
    * overflow is a LOUD error (lower α or iters, or use pagerank) —
    * never a silent wrap.
    *
    * Output: (node, katz_fp, katz = fp/1e12). Shape at scale: `iters`
    * rounds of one edge-to-rank hash join + one map-side-combined sum
    * per round (the pagerank plan without the out-degree join), plus
    * one max-in-degree aggregate for the guard.
    */
  def katz(edges: DataFrame, iters: Int = 3, alphaNum: Long = 150,
      alphaDen: Long = 1000, checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(alphaNum > 0 && alphaDen > alphaNum,
      s"need 0 < alphaNum < alphaDen, got $alphaNum/$alphaDen")
    // persisted for the same reasons as in [[pagerankImpl]] (the guard
    // aggregate, every iteration's pull and the init/final projections
    // all walk these).
    val e = graft.util.Caches.persist(
      edges.select(col("src"), col("dst")).distinct())
    val nodes = graft.util.Caches.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // overflow guard: worst-case growth from the observed max in-degree.
    // The guarded quantity is the PER-ROUND INTERMEDIATE r*alphaNum (the
    // product is computed in long space BEFORE the exact ldiv), tracked
    // at every round t — guarding only the final iterate would admit a
    // round whose pre-division product wraps even though the post-
    // division rank fits (round-18 ADVICE). ldiv itself is exact long
    // division (no 2^53 double-precision ceiling — see [[ldiv]]).
    val dmaxRow = e.groupBy("dst").agg(count(lit(1)).as("d"))
      .agg(coalesce(max("d"), lit(0L))).collect().head
    val dmax = dmaxRow.getLong(0)
    var worst = BigInt(RankScale)
    var worstIntermediate = BigInt(0)
    (1 to iters).foreach { _ =>
      worstIntermediate = worstIntermediate.max(worst * alphaNum)
      worst = BigInt(RankScale) +
        BigInt(dmax) * (worst * alphaNum / alphaDen)
    }
    require(worstIntermediate < BigInt(Long.MaxValue)
        && worst < BigInt(Long.MaxValue),
      s"katz: alpha=$alphaNum/$alphaDen over $iters iterations can " +
        s"overflow at max in-degree $dmax (worst-case fp iterate $worst, " +
        s"worst pre-division product $worstIntermediate) — " +
        "lower alpha/iters or use pagerank's degree-diluted walk")
    val init = nodes.select(col("node"), lit(RankScale).as("r"))
    val ranks = graft.util.Fixpoint.iterate(init, iters, "katz",
        every = checkpointEvery) { ranks =>
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          ldiv(col("r") * alphaNum, lit(alphaDen)).as("c"))
        .groupBy("node").agg(sum("c").as("cs"))
      init
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(RankScale) + coalesce(col("cs"), lit(0L))).as("r"))
    }.state
    ranks.select(col("node"), col("r").as("katz_fp"),
      (col("r").cast("double") / RankScale).as("katz"))
  }

  /** HITS fixed-point scale: 1e9. Smaller than [[RankScale]] BY DESIGN:
    * the L1 normalization below multiplies an (already ≤ scale) raw sum
    * by the scale before the exact division, so the largest intermediate
    * is scale² = 1e18 < 2^63 — structurally inside long range with no
    * data-dependent guard needed.
    */
  val HitsScale = 1000000000L

  /** HITS hubs & authorities (Kleinberg 1999) — the third classical
    * link-analysis centrality beside [[pagerank]] and [[katz]], and the
    * one that separates the two ROLES a web/crawl node can play: an
    * AUTHORITY is endorsed by good hubs (a(v) = Σ_{u→v} h(u)), a HUB
    * endorses good authorities (h(u) = Σ_{u→v} a(v)). PageRank/Katz
    * collapse both roles into one score; on bipartite-ish curation
    * graphs (site→document, supplier→customer) the two sides ARE the two
    * roles, and reading one blended rank mis-ranks both.
    *
    * Fixed-iteration, exact-integer contract like [[pagerank]]: scores
    * are L1-normalized each half-step in fixed-point long math —
    * x(v) ← (x_raw(v) · [[HitsScale]]) div Σ_v x_raw(v) — so Σx ≤ scale
    * always, every raw pull Σ h(u) ≤ scale, and the pre-division product
    * is ≤ scale² = 1e18: overflow is impossible by construction (the
    * reason this family runs at 1e9, not [[RankScale]]). Floor division
    * on non-negative operands replays as DuckDB `//` bit-identically
    * under any shuffle order. The update order is the textbook one:
    * authorities pull from the PREVIOUS hubs, hubs pull from the NEW
    * authorities. A graph whose entire hub mass sits on sink nodes
    * (Σ a_raw = 0) cannot normalize — that degenerate round is a LOUD
    * in-plan error, never a silent null rank.
    *
    * Output: (node, auth_fp, hub_fp, auth, hub) for every node — nodes
    * on the wrong side of a bipartite graph read exactly 0 for the role
    * they never play. Shape at scale: per iteration, two hash joins
    * edges⨝scores (partitioned on the join key) + two map-side-combined
    * long SUMs + two one-row broadcast totals; score state is one row
    * per node, never collected. Each round's vectors are persisted so
    * the two consumers (total + normalize) share one execution instead
    * of doubling the plan per round; `checkpointEvery` truncates lineage
    * for long horizons exactly as in [[pagerank]].
    */
  def hits(edges: DataFrame, iters: Int = 2,
      checkpointEvery: Int = 0): DataFrame =
    graft.util.Fixpoint.scoped(edges.sparkSession) { loop =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // e and nodes persisted: e is walked by every pull (2 per
    // iteration) plus the node-set union, and nodes by the start
    // vector, the one-row total and the final join — un-persisted,
    // each walk replays the upstream edge plan AND this distinct.
    val e = graft.util.Caches.persist(
      loop(edges).select(col("src"), col("dst")).distinct())
    val nodes = graft.util.Caches.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.agg(count(lit(1)).as("__nn"))
    // L1-normalized uniform start: h0 = scale div N, so Σ h0 ≤ scale.
    val hub0 = graft.util.Caches.persist(
      nodes.crossJoin(broadcast(n))
        .select(col("node"), ldiv(lit(HitsScale), col("__nn")).as("h")))
    var auth: DataFrame = null
    // raw → L1-normalized fixed-point scores; Σ out ≤ HitsScale. The
    // raw pull is persisted and its 1-row L1 total COLLECTED eagerly
    // (round 19): lazily, round r's pull embeds round r-1's normalized
    // vector TWICE (once under the total, once under the projection),
    // so the single final action carried a 2^rounds-duplicated plan —
    // the sf0.1 gate read 10.9 s and a lazy persist made it WORSE
    // (16.7 s, the InMemoryRelation boundary degraded the downstream
    // join planning without cutting the duplication). Materializing
    // each pull once and folding the total in as a LITERAL keeps every
    // round's plan three nodes deep; same exact fixed-point arithmetic,
    // same loud zero-mass error. The driver holds one long per round —
    // a bounded round-trip, not data work.
    def normalize(raw: DataFrame, in: String, out: String): DataFrame = {
      val rawP = graft.util.Caches.persist(raw)
      val tot = rawP.agg(coalesce(sum(in), lit(0L)))
        .collect().head.getLong(0)
      if (tot <= 0) throw new IllegalStateException(
        "hits: zero L1 mass — the graph's entire score mass reached " +
          "sink nodes; HITS is undefined here")
      graft.util.Caches.persist(rawP
        .select(col("node"), ldiv(col(in) * HitsScale, lit(tot)).as(out)))
    }
    // each pull's exchange carries node-sized partials; the loop's
    // shuffle partitions are sized to the (already persisted) node table
    loop.sizeTo(nodes.count())
    val hub = graft.util.Fixpoint.iterate(hub0, iters, "hits",
        every = checkpointEvery) { hub =>
      // score vectors are one row per node — broadcast them into the
      // edge joins so each pull is a map-side broadcast join + combine
      val araw = e.join(broadcast(hub.select(col("node").as("src"),
          col("h"))), "src")
        .groupBy(col("dst").as("node")).agg(sum("h").as("__ar"))
      auth = normalize(araw, "__ar", "a")
      val hraw = e.join(broadcast(auth.select(col("node").as("dst"),
          col("a"))), "dst")
        .groupBy(col("src").as("node")).agg(sum("a").as("__hr"))
      normalize(hraw, "__hr", "h")
    }.state
    nodes.join(auth, Seq("node"), "left").join(hub, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("a"), lit(0L)).as("auth_fp"),
        coalesce(col("h"), lit(0L)).as("hub_fp"),
        (coalesce(col("a"), lit(0L)).cast("double") / HitsScale).as("auth"),
        (coalesce(col("h"), lit(0L)).cast("double") / HitsScale).as("hub"))
  }

  /** Strongly connected components of a DIRECTED edge table — the
    * standard web-graph decomposition run before [[pagerank]] on crawl
    * corpora (the giant SCC + tendrils structure of Broder et al. 2000;
    * link-quality priors and crawl-frontier logic treat the giant SCC's
    * members differently from IN/OUT tendrils). The undirected
    * [[Dedup.connectedComponents]] cannot see direction; this is the
    * trim + forward-coloring + backward-confirmation family (Orzan's
    * coloring / FW-BW-Trim — Slota et al. 2014, McLendon et al. 2005)
    * re-expressed as bounded DataFrame fixpoints:
    *
    *  1. TRIM to fixpoint: a vertex with no in-edges or no out-edges in
    *     the remaining subgraph is on no cycle — assign it its own
    *     singleton SCC and peel it. This dissolves the DAG tendrils that
    *     dominate web graphs without any label work.
    *  2. COLOR: color(v) = min id of any vertex that reaches v, by
    *     neighbor-min propagation WITH pointer jumping — if lab(v)
    *     reaches v and lab(lab(v)) reaches lab(v), it reaches v, so
    *     lab(v) <- min(lab(v), lab(lab(v))) is sound and the fixpoint
    *     lands in O(log n) rounds, not O(diameter).
    *  3. CONFIRM: within each color class, blab(v) = min id v REACHES
    *     through class-internal edges (the same fixpoint on reversed
    *     edges). The class's color c is its minimum id (c reaches every
    *     member, so any member with a smaller id would have recolored
    *     the class), hence blab(v) = c  <=>  v reaches c  <=>  v is in
    *     SCC(c) — those vertices are assigned scc = c and peeled; at
    *     least every class root confirms, so every round makes progress.
    *
    * Rounds repeat on the unassigned remainder until empty; a graph that
    * needs more than `maxOuter` peels (adversarially nested chains of
    * SCCs, not the web-graph shape) fails loudly rather than returning a
    * partial answer.
    *
    * Shape at scale: every step is an edge⨝label hash join plus a
    * map-side-combined min — no driver state, no per-vertex collect; all
    * three fixpoints truncate their self-join lineage through
    * [[graft.util.Fixpoint]]. Determinism: min-label fixpoints are
    * order-independent, so any engine agrees on the labels.
    *
    * Output: (node, scc) for every vertex of the edge table, scc = the
    * component's minimum node id.
    */
  def scc(edges: DataFrame, maxOuter: Int = 12, maxIter: Int = 25): DataFrame =
    // The trim and peel rounds keep AQE ON (unlike the other fixpoints —
    // see [[graft.util.Fixpoint]]): they are semi/anti-join heavy and
    // AQE's runtime broadcast conversion wins more than its per-stage
    // re-planning costs (measured 7.2 s with AQE vs 12.9 s without at
    // sf0.1). The color and confirm label rounds run in
    // [[Dedup.minLabelFixpoint]], which turns AQE off for its own rounds
    // and co-partitions edges and labels, as for connected components.
    graft.util.Fixpoint.scoped(edges.sparkSession, aqe = true) { loop =>
    require(maxOuter >= 1, s"maxOuter must be >= 1, got $maxOuter")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val e0 = loop(edges).select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull).distinct()
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def ckpt(df: DataFrame): DataFrame = graft.util.Fixpoint.truncate(df)
    var verts = ckpt(e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct())
    var nVerts = verts.count()
    var rem = ckpt(e0)
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    var done = nVerts == 0L
    // the trim/color/confirm rounds shuffle vertex-sized tables dozens
    // of times; size the loop's shuffle partitions to that state (AQE
    // stays ON — see above — but its coalescing cannot remove the
    // per-task scheduling of an oversized INITIAL partition count)
    loop.sizeTo(nVerts)
    while (!done && outer < maxOuter) {
      // 1. TRIM fixpoint: peel vertices with no in- or no out-edges.
      // One checkpointed frame per round (id, __live): the peeled rows
      // and the surviving rows are FILTERS over its blocks, so a round
      // is one materialization + one count instead of three frames.
      var trimming = true
      var trims = 0
      while (trimming && trims < maxIter) {
        val marked = ckpt(verts
          .join(rem.select(col("src").as("id")).distinct()
            .withColumn("__s", lit(true)), Seq("id"), "left")
          .join(rem.select(col("dst").as("id")).distinct()
            .withColumn("__d", lit(true)), Seq("id"), "left")
          .select(col("id"),
            (col("__s").isNotNull && col("__d").isNotNull).as("__live")))
        val nLive = marked.where(col("__live")).count()
        trimming = nLive < nVerts
        if (trimming) {
          out += marked.where(!col("__live"))
            .select(col("id").as("node"), col("id").as("scc"))
          verts = marked.where(col("__live")).select("id")
          nVerts = nLive
          rem = rem
            .join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
            .transform(ckpt)
        }
        trims += 1
      }
      done = nVerts == 0L
      if (!done) {
        // 2. COLOR + 3. CONFIRM. minLabelFixpoint's labels flow from dst
        // to src, so the min id that REACHES v (color) runs on reversed
        // edges and the min id v reaches (confirm) on forward ones. The
        // edge tables are subsets of rem, whose endpoints are all in
        // verts, so max(verts, rem) rows bounds both of their tables.
        val rows = math.max(nVerts, rem.count())
        val pass = s"scc_${outer + 1}"
        def minLabel(e: DataFrame, name: String): DataFrame = {
          val labels = Dedup.minLabelFixpoint(e, rows,
            // seed lab = min(id, min over v's edges), every vertex kept
            le => verts
              .join(le.groupBy(col("src").as("id")).agg(min("dst").as("__mn")),
                Seq("id"), "left")
              .select(col("id"),
                least(col("id"), coalesce(col("__mn"), col("id"))).as("lab")),
            maxIter, reliable, s"${pass}_$name")
          // a non-converged coloring can split one SCC across color
          // classes and silently mislabel part of it in a later peel
          // round — fail loudly instead (the same contract as the outer
          // peel loop). Pointer jumping halves chain length per round, so
          // maxIter=25 covers reach-chains ~2^25 long; hitting this means
          // the graph genuinely needs a bigger budget.
          if (!labels.converged)
            throw new IllegalStateException(
              s"scc label propagation did not converge in maxIter=$maxIter " +
                "pointer-jumping rounds; raise maxIter")
          labels.state
        }
        val colors = graft.util.Caches.persist(
          minLabel(rem.select(col("dst").as("src"), col("src").as("dst")),
            "color").withColumnRenamed("lab", "__color"))
        // checkpointed: every confirm-fixpoint round joins against this
        // edge table — left lazy it would re-run the two color joins
        // per iteration
        val classEdges = ckpt(rem
          .join(colors.select(col("id").as("src"), col("__color").as("__cs")),
            "src")
          .join(colors.select(col("id").as("dst"), col("__color").as("__cd")),
            "dst")
          .where(col("__cs") === col("__cd"))
          .select(col("src"), col("dst")))
        val blab = minLabel(classEdges, "confirm")
          .withColumnRenamed("lab", "__blab")
        val assigned = colors.join(blab, "id")
          .where(col("__color") === col("__blab"))
          .select(col("id").as("node"), col("__color").as("scc"))
          .transform(ckpt)
        out += assigned
        verts = verts
          .join(assigned.select(col("node").as("id")), Seq("id"), "left_anti")
          .transform(ckpt)
        nVerts = verts.count()
        done = nVerts == 0L
        if (!done)
          rem = rem
            .join(assigned.select(col("node").as("src")), Seq("src"), "left_anti")
            .join(assigned.select(col("node").as("dst")), Seq("dst"), "left_anti")
            .transform(ckpt)
      }
      outer += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"scc did not converge in maxOuter=$maxOuter peel rounds; " +
          "raise maxOuter (adversarially nested SCC chains need more peels)")
    if (out.isEmpty)
      e0.select(col("src").as("node"), col("src").as("scc")).limit(0)
    else out.reduce(_ unionAll _)
  }

  /** Topological layering of a digraph's SCC CONDENSATION — the second
    * half of the directed-graph decomposition ([[scc]] finds the
    * components; this orders them): contract every SCC to one node,
    * keep the distinct cross-component edges (a DAG by construction),
    * and assign each component its LONGEST-PATH-FROM-A-SOURCE depth —
    * layer 0 = source components, layer(c) = 1 + max layer over
    * predecessors. This is the crawl-frontier / IN-SCC-OUT ordering of
    * Broder et al.: layers before the giant SCC are IN-tendrils, after
    * it OUT-tendrils; pipeline stages that must respect link direction
    * (influence propagation, dependency builds, staged recrawls)
    * process layers in order.
    *
    * Fixpoint shape: layer relaxation is monotone integer max —
    * layer(c) <- max(layer(c), 1 + max over preds) — so the result is
    * order-independent and any engine replays it; rounds needed = DAG
    * depth (condensations of web graphs are shallow; a chain-shaped
    * condensation deeper than `maxIter` fails loudly). Every step is a
    * component-keyed join + map-side-combined max; lineage truncates
    * through [[graft.util.Fixpoint]]. Output: one row per component
    * (scc, n_nodes, layer).
    */
  def topoLayers(edges: DataFrame, maxOuter: Int = 12, maxIter: Int = 25,
      checkpointEvery: Int = 1): DataFrame =
    // AQE stays ON — same adjudication as [[scc]]'s trim and peel rounds,
    // which dominate this operator's runtime.
    graft.util.Fixpoint.scoped(edges.sparkSession, aqe = true) { loop =>
    val labels = graft.util.Caches.persist(scc(loop(edges), maxOuter, maxIter))
    val ce = graft.util.Caches.persist(loop(edges)
      .join(labels.select(col("node").as("src"), col("scc").as("__ca")),
        "src")
      .join(labels.select(col("node").as("dst"), col("scc").as("__cb")),
        "dst")
      .where(col("__ca") =!= col("__cb"))
      .select(col("__ca").as("ca"), col("__cb").as("cb")).distinct())
    val comps = labels.select(col("scc").as("c")).distinct()
    // the previous generation's layer rides along as __ol, so the
    // convergence probe is a FILTER over the materialized generation;
    // round 1 sizes the loop's partitions to the materialized seed
    var sized = false
    val layered = graft.util.Fixpoint.iterate(
        comps.select(col("c"), lit(0L).as("layer")), maxIter, "topo",
        every = checkpointEvery, materializeSeed = true,
        changed = Some(next =>
          !next.where(col("layer") =!= col("__ol")).isEmpty)) { layer =>
      if (!sized) { loop.sizeTo(layer.count()); sized = true }
      val relax = ce
        .join(layer.select(col("c").as("ca"), col("layer")), "ca")
        .groupBy(col("cb").as("c")).agg((max("layer") + 1L).as("__nl"))
      layer.join(relax, Seq("c"), "left")
        .select(col("c"), col("layer").as("__ol"),
          greatest(col("layer"), coalesce(col("__nl"), col("layer")))
            .as("layer"))
    }
    if (!layered.converged)
      throw new IllegalStateException(
        s"topoLayers did not converge in maxIter=$maxIter relaxation " +
          "rounds; the condensation is deeper than maxIter — raise it")
    labels.groupBy(col("scc")).agg(count(lit(1)).as("n_nodes"))
      .join(layered.state.select(col("c").as("scc"), col("layer")), "scc")
  }

  /** Canonical undirected co-occurrence edges: one (a, b) row with
    * a < b per pair of distinct `nodeCol` values that ever share a
    * `groupCol` value (parts in one order, docs in one cluster, urls in
    * one session). Groups larger than `maxGroup` are dropped with the
    * same rationale as [[Dedup.editDistancePairs]]'s maxBlock: one
    * degenerate group (a crawl dump, a mega-order) otherwise contributes
    * O(maxGroup²) edges on its own.
    *
    * Shape at scale: one shuffle keyed on the group, quadratic only
    * WITHIN a bounded group — total edge volume <= Σ min(|g|, maxGroup)².
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, nodeCol: String,
      maxGroup: Int = 256): DataFrame = {
    require(maxGroup >= 2, s"maxGroup must be >= 2, got $maxGroup")
    val g = df.select(col(groupCol).as("__g"), col(nodeCol).as("__n")).distinct()
    // the size guard runs BEFORE any member list is collected: a
    // map-side-combined count per group, then an inner join keeps only
    // under-cap groups — an oversized group (the stopword-key hazard
    // maxGroup exists for) is dropped as streamed count rows, never
    // materialized as an aggregation-buffer array. Both the count and
    // the join key on __g, so the exchange is shared (ReusedExchange).
    val sizes = g.groupBy(col("__g")).agg(count(lit(1)).as("__gn"))
      .where(col("__gn") <= maxGroup)
      .select(col("__g"))
    // one grouped pass then builds each kept group's sorted member list
    // (bounded by maxGroup); pairing each member with the tail slice
    // after it yields a < b by construction, every within-group pair
    // exactly once — no window sort, no self-join (the formulation this
    // replaced paid a partition sort AND a join for the identical pairs)
    val adj = g.join(sizes, "__g")
      .groupBy(col("__g"))
      .agg(sort_array(collect_list(col("__n"))).as("__ns"))
    // persisted for the same reason as [[supplierCustomerEdges]]: the
    // triangle/LPA/k-core consumers each read the edge table 3+ times,
    // and this builder is itself a 4-exchange plan.
    graft.util.Caches.persist(adj
      .select(posexplode(col("__ns")).as(Seq("__i", "a")), col("__ns"))
      .select(col("a"), explode(slice(col("__ns"), col("__i") + 2,
        greatest(size(col("__ns")) - col("__i") - 1, lit(0)))).as("b"))
      .distinct())
  }

  /** Per-node triangle counts over a canonical undirected edge table
    * ((a, b), a < b, distinct — e.g. [[coOccurrenceEdges]]). Output:
    * (node, n_tri) for every node in at least one triangle.
    *
    * Uses the degree-ordered orientation (the standard distributed
    * triangle algorithm): each undirected edge is directed from the
    * endpoint with the smaller (degree, id) rank to the larger, every
    * triangle becomes exactly one directed wedge u→v→w closed by u→w,
    * and — the scale property — a node's out-degree is bounded by
    * O(sqrt(|E|)) regardless of its true degree, so the wedge join never
    * explodes on hubs the way an id-ordered orientation does. Two hash
    * joins total; no state beyond the edge list.
    */
  def triangleCounts(und: DataFrame): DataFrame =
    orientedTriangles(und)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

  /** Every triangle of the canonical undirected edge table exactly once,
    * as (u, v, w) under the degree orientation — the shared enumeration
    * behind [[triangleCounts]], [[clusteringCoefficients]] and
    * [[kTruss]].
    */
  private def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    // persisted: dir feeds the adjacency aggregation AND the per-edge
    // probe — without it the degree computation and orientation replay
    val dir = graft.util.Caches.persist(withDeg.select(
      when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    // Edge-iterator closing instead of the wedge join: the wedge table is
    // Σ outdeg² rows (47M at sf0.1 on the dense co-occurrence graph, vs
    // 1.2M edges) and has to shuffle into the closing join; collecting
    // each node's out-neighbors once (state bounded by the orientation's
    // O(sqrt(E)) out-degree cap) turns closing into a narrow per-edge
    // array_intersect whose output IS the triangle list. Measured 15.3s
    // -> ~5s at sf0.1; at corpus scale the win grows with density.
    val adj = dir.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    dir
      .join(adj.select(col("node").as("u"), col("nbrs").as("__nu")), "u")
      .join(adj.select(col("node").as("v"), col("nbrs").as("__nv")), "v")
      .select(col("u"), col("v"),
        explode(sortedIntersect(und.schema("a").dataType,
          col("__nu"), col("__nv"))).as("w"))
  }

  /** Sorted-merge intersect when nodes are longs (the native two-pointer
    * kernel — array_intersect hash-sets per probe row dominated the
    * closing join's time AND its GC jitter); generic fallback for other
    * node types. Shared by [[orientedTriangles]] and [[kTruss]].
    */
  private def sortedIntersect(dt: org.apache.spark.sql.types.DataType,
      a: Column, b: Column): Column = dt match {
    case org.apache.spark.sql.types.LongType =>
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.Expressions.SortedIntersect(
          org.apache.spark.sql.GraftColumnBridge.expression(a),
          org.apache.spark.sql.GraftColumnBridge.expression(b)))
    case _ => array_intersect(a, b)
  }

  /** k-truss decomposition (Cohen 2008) — EDGE-level cohesion beside
    * [[kCore]]'s node-level one: an edge survives only while it closes
    * at least k−2 triangles with other surviving edges, so a k-truss is
    * the subgraph where every tie is multiply witnessed. The curation
    * read: k-core keeps a well-connected hub even when its ties are
    * pairwise-only (a spam hub linking everywhere survives); k-truss
    * demands triangle evidence per EDGE, the standard stronger
    * community filter on co-occurrence graphs.
    *
    * Budgeted-fixpoint contract exactly like [[kCore]]: up to `rounds`
    * peels (each = one triangle-support pass + one filter), early-stop
    * when a round drops nothing (identity rounds make the budget a
    * ceiling, not a schedule), LOUD warn when the budget ends before
    * the fixpoint. Support is recomputed once on the surviving subgraph
    * so the output is well-defined whether or not the peel converged.
    *
    * Input: canonical undirected edges (a < b, distinct). Output:
    * (a, b, support) of the surviving subgraph. Shape at scale: ONE
    * full triangle enumeration (the [[triangleCounts]] plan — degree
    * orientation + sorted-intersect closing, never the wedge join),
    * then INCREMENTAL support maintenance per peel round: the
    * materialized triangle list drops every triangle that touches a
    * removed edge (three anti-joins — broadcast while the removed set's
    * bytes fit `spark.sql.autoBroadcastJoinThreshold`) and
    * support is re-counted from the surviving list by one
    * map-side-combined explode+count. Rounds 2+ never re-pay the
    * adjacency build or the intersect probes, and counting surviving
    * triangles once per round subtracts multi-removed-edge triangles
    * exactly once — the inclusion-exclusion the subtract-per-removed-
    * edge formulation would otherwise need.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame =
    graft.util.Fixpoint.scoped(edges.sparkSession) { loop =>
    require(k >= 3, s"k must be >= 3 (k-2 triangles per edge), got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = loop.spark
    val nodeType = edges.schema("a").dataType
    // Support of the CURRENT surviving subgraph, keyed on its ORIENTED
    // edges. The orientation is fixed ONCE (below) from the original
    // graph's degrees: triangle enumeration is exact under ANY fixed
    // total order on nodes, so per-round support — and therefore every
    // peel decision — is identical to re-orienting on the shrinking
    // subgraph. A triangle found as u→v closed by w ∈ N⁺(u) ∩ N⁺(v)
    // has all three edges (u,v), (u,w), (v,w) in the oriented table, so
    // support groups directly on the oriented key — no least/greatest
    // re-canonicalization per row.
    def enumerate(dir: DataFrame): DataFrame = {
      val adj = dir.groupBy(col("u").as("node"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      dir
        .join(adj.select(col("node").as("u"), col("nbrs").as("__nu")), "u")
        .join(adj.select(col("node").as("v"), col("nbrs").as("__nv")), "v")
        .select(col("u"), col("v"),
          explode(sortedIntersect(nodeType, col("__nu"), col("__nv")))
            .as("w"))
    }
    // (edges, triangle list) -> (u, v, support) with support-0 edges kept
    def supportFrom(dir: DataFrame, tris: DataFrame): DataFrame =
      dir.join(
        tris.select(explode(array(
            struct(col("u"), col("v")),
            struct(col("u"), col("w").as("v")),
            struct(col("v").as("u"), col("w").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("support")),
        Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("support"), lit(0L)).as("support"))
    // canonicalize internally (a reversed duplicate must count once,
    // not silently drop); self-loops close no triangle and go.
    // EVERY generation — edges, triangle list, support, removed set — is
    // lineage-TRUNCATED, never merely persisted: (a) the maintenance
    // references each table multiple times per round, so an
    // un-truncated logical plan grows geometrically; (b) chaining
    // PERSISTS across generations (tris_{r+1} reads cached tris_r)
    // would break under Spark's non-cascading cache invalidation —
    // unpersisting a superseded generation RECOMPILES its dependents'
    // cache entries and drops their built buffers (SPARK-24596), so a
    // later action would recompute through an already-freed checkpoint.
    // Truncated generations have no cache-level dependencies: each is
    // its own block-backed leaf.
    val und0 = loop(edges).select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") < col("b")).distinct()
    val deg = und0.select(col("a").as("node"))
      .union(und0.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // the [[orientedTriangles]] degree orientation, computed once: out-
    // degree stays O(sqrt(E)) on the ORIGINAL graph and can only shrink
    // as edges peel, so the one closing join never explodes.
    val dir = graft.util.Fixpoint.truncate(und0
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db")
            || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    val edgeCount = dir.count()
    // the enumeration + per-round support exchanges carry edge-sized
    // (and 3x-triangle-sized explode) tables; size the loop's shuffle
    // partitions to the edge table
    loop.sizeTo(edgeCount)
    // the ONE full enumeration, checkpointed ONCE; rounds scan it with
    // anti-joins against the (tiny, cumulative) removed-edge table —
    // the triangle list itself is never re-materialized.
    val tris0 = {
      val e = enumerate(dir)
      graft.util.PlanDump("ktruss_enumerate_once", e)
      graft.util.Fixpoint.truncate(e)
    }
    val sup0 = graft.util.Fixpoint.truncate(supportFrom(dir, tris0))
    // The removed-edge probe: how many surviving edges are under
    // support and their UnsafeRow bytes, in one aggregate. The byte sum
    // decides the anti-join strategy below, so a string-keyed graph is
    // sized by its keys' actual length, not by a row count.
    def fieldBytes(c: Column): Column = nodeType match {
      case org.apache.spark.sql.types.StringType |
          org.apache.spark.sql.types.BinaryType =>
        (octet_length(c) + 7).bitwiseAND(-8).cast("long")
      case _ => lit(0L)
    }
    var removedNow = 0L
    var removedBytesNow = 0L
    def removals(sup: DataFrame): Boolean = {
      val row = sup.where(col("support") < k - 2)
        .agg(count(lit(1)), coalesce(sum(lit(24L) + fieldBytes(col("u"))
          + fieldBytes(col("v"))), lit(0L)))
        .collect().head
      removedNow = row.getLong(0)
      removedBytesNow = row.getLong(1)
      removedNow > 0
    }
    // Removed sets up to Spark's own broadcast threshold ship as a
    // BROADCAST build side of the per-round anti-joins (AQE is off, and
    // the static planner cannot size a filter over checkpointed blocks,
    // so without the hint every round would sort-merge the whole
    // triangle list three times); past it, or with broadcasts off (-1),
    // the rounds fall back to shuffle anti-joins.
    val broadcastMax = spark.sessionState.conf.autoBroadcastJoinThreshold
    var removedCumBytes = 0L
    var removedCum: Option[DataFrame] = None
    val out =
      if (!removals(sup0)) sup0
      else graft.util.Fixpoint.iterate(sup0, rounds, "ktruss",
          every = 1, changed = Some(removals)) { sup =>
        removedCumBytes += removedBytesNow
        val removed = sup.where(col("support") < k - 2)
          .select(col("u").as("__ru"), col("v").as("__rv"))
        // cumulative removed edges (a few rows after round 1 on real
        // graphs — the peel tail is tiny)
        removedCum = Some(graft.util.Fixpoint.truncate(
          removedCum.fold(removed)(_.unionAll(removed)), removedCum))
        // a triangle survives iff NONE of its three edges was ever
        // removed; each slot anti-joins its own aliased copy of the
        // cumulative set (reusing one frame thrice trips ambiguous-
        // attribute analysis; the three broadcast builds dedup to one
        // via ReusedExchange)
        def removedAs(us: String, vs: String): DataFrame = {
          val rm = removedCum.get
            .select(col("__ru").as(us), col("__rv").as(vs))
          if (removedCumBytes <= broadcastMax) broadcast(rm) else rm
        }
        val liveTris = tris0
          .join(removedAs("__r1u", "__r1v"),
            col("u") === col("__r1u") && col("v") === col("__r1v"),
            "left_anti")
          .join(removedAs("__r2u", "__r2v"),
            col("u") === col("__r2u") && col("w") === col("__r2v"),
            "left_anti")
          .join(removedAs("__r3u", "__r3v"),
            col("v") === col("__r3u") && col("w") === col("__r3v"),
            "left_anti")
        supportFrom(
          sup.where(col("support") >= k - 2).select("u", "v"), liveTris)
      }.state
    // sup is maintained in lockstep with the surviving edge set, so it
    // describes the surviving subgraph whether or not the peel
    // converged; the last probe counted its under-support edges.
    if (removedNow > 0) log.warn(
      s"kTruss: peel budget ($rounds rounds) ended before the " +
        s"fixpoint — $removedNow surviving edge(s) still have support " +
        s"< ${k - 2}; raise rounds for the exact $k-truss")
    // back to the canonical (a < b) key the caller sees — the oriented
    // key is an internal detail of the fixed orientation.
    out.select(least(col("u"), col("v")).as("a"),
      greatest(col("u"), col("v")).as("b"), col("support"))
  }

  /** Local clustering coefficients over a canonical undirected edge
    * table — c(v) = 2·T(v)/(deg(v)·(deg(v)−1)), the per-node "how much
    * of my neighborhood is a clique" readout on top of
    * [[triangleCounts]] (T alone grows with degree; c is the [0,1]
    * density a community/spam analysis actually thresholds on —
    * link-farm nodes show high degree with near-zero c). Degree-1
    * nodes emit c = 0 by convention. Output per node:
    * (node, deg, n_tri, coeff).
    *
    * Shape at scale: [[triangleCounts]]'s plan plus one degree count
    * and a node-keyed join — nothing beyond the triangle pass grows.
    */
  def clusteringCoefficients(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(und), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (round(when(col("deg") >= 2,
          lit(2d) * coalesce(col("n_tri"), lit(0L)).cast("double")
            / (col("deg").cast("double")
              * (col("deg") - 1).cast("double")))
          .otherwise(lit(0d)), 6) + lit(0d)).as("coeff"))
  }

  /** Reciprocity of a DIRECTED edge table (src, dst): the fraction of
    * distinct non-loop edges whose reverse edge also exists — the
    * mutuality readout (follow-back rate, bidirectional link share)
    * that every undirected projection erases. Output ONE row:
    * (n_edges, n_reciprocated, reciprocity).
    *
    * Shape at scale: one distinct, one self left-semi join on the
    * reversed key, two one-row counts — edge-cardinality work.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = graft.util.Caches.persist(
      edges.select(col("src"), col("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull
          && col("src") =!= col("dst"))
        .distinct())
    val mut = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(mut.agg(count(lit(1)).as("n_reciprocated"))))
      .select(col("n_edges"), col("n_reciprocated"),
        (round(when(col("n_edges") > 0,
          col("n_reciprocated").cast("double")
            / col("n_edges").cast("double")).otherwise(lit(0d)), 6)
          + lit(0d)).as("reciprocity"))
  }

  /** Power-law exponent of the degree distribution's tail — the
    * continuous-MLE approximation of Clauset, Shalizi & Newman (2009,
    * §3.1): α = 1 + n·(Σ_{deg ≥ dMin} ln(deg/(dMin − ½)))⁻¹ over the
    * nodes at or above `dMin`. Web/citation/co-occurrence graphs sit
    * near α ∈ [2, 3]; a much smaller α means hub domination (sampling
    * and partitioning strategies must expect mega-hubs), a much larger
    * one means the "scale-free" assumption is wrong for this corpus.
    * Output ONE row: (d_min, n_tail, alpha) — alpha NULL when no node
    * reaches dMin.
    *
    * Determinism: degrees are exact counts; each ln snaps to a ×2^20
    * fixed-point long (the engine's transcendental-sum convention), so
    * the sum is order-insensitive; α is one final double expression.
    * Shape: one map-side-combined degree count + a one-row aggregate.
    */
  def degreePowerLaw(und: DataFrame, dMin: Long = 2): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1, got $dMin")
    val scale = (1L << 20).toDouble
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.where(col("deg") >= dMin)
      .select(round(org.apache.spark.sql.functions.log(
        col("deg").cast("double")
          / lit(dMin - 0.5)) * scale).cast("long").as("__t"))
      .agg(count(lit(1)).as("n_tail"), sum("__t").as("__sfp"))
      .select(lit(dMin).as("d_min"), col("n_tail"),
        (round(when(col("n_tail") > 0 && col("__sfp") > 0,
          lit(1d) + col("n_tail").cast("double")
            / (col("__sfp").cast("double") / scale)), 6) + lit(0d))
          .as("alpha"))
  }

  /** Common-neighbors link prediction over a canonical undirected edge
    * table ((a, b), a < b, distinct — e.g. [[coOccurrenceEdges]]):
    * candidate NEW edges (pairs not currently connected) ranked by
    * shared-neighbor structure. Output per candidate (node_a < node_b):
    * n_common, both degrees, and the neighborhood Jaccard
    * |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — exact long counts, one exact-
    * integer double division; no transcendental scoring (Adamic-Adar's
    * log is deliberately avoided: cross-engine log ulps).
    *
    * Every candidate pair is a wedge x–z–y through a shared neighbor z,
    * so enumeration is Σ_z deg(z)² — quadratic in HUB degree. The
    * standard mitigation applies: nodes with degree > `maxDegree` are
    * skipped AS WEDGE CENTERS (their co-neighbor signal is weakest per
    * pair — a hub connects everyone to everyone) while still appearing
    * as candidate endpoints through their low-degree co-neighbors.
    * `minCommon` prunes the long one-shared-neighbor tail before the
    * join that attaches degrees.
    *
    * Shape at scale: one shuffle to build bounded adjacency lists
    * (each <= maxDegree), a narrow in-row pair explosion (<= maxDegree²
    * per center, no join), one map-side-combined (x, y) count, an anti
    * join against the existing edges and a keyed degree attach. Never
    * all-pairs.
    */
  def linkPrediction(und: DataFrame, maxDegree: Int = 256,
      minCommon: Long = 2): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val sym = graft.util.Caches.persist(
      und.select(col("a"), col("b"))
        .union(und.select(col("b").as("a"), col("a").as("b"))))
    val deg = graft.util.Caches.persist(
      sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg")))
    val centers = sym
      .join(deg.select(col("node").as("a"), col("deg")), "a")
      .where(col("deg") <= maxDegree)
    val adj = centers.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("__nbrs"))
    // each wedge pair ONCE: the adjacency array is sorted, so pairing
    // every element only with the tail slice after it yields x < y by
    // construction — half the rows of the naive explode² + filter
    val pairs = adj
      .select(posexplode(col("__nbrs")).as(Seq("__i", "x")),
        col("__nbrs"))
      .select(col("x"), explode(slice(col("__nbrs"), col("__i") + 2,
        greatest(size(col("__nbrs")) - col("__i") - 1, lit(0)))).as("y"))
    val cn = pairs.groupBy("x", "y").agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
    val cand = cn.join(und,
      cn("x") === und("a") && cn("y") === und("b"), "left_anti")
    cand
      .join(deg.select(col("node").as("x"), col("deg").as("deg_a")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("deg_b")), "y")
      .select(col("x").as("node_a"), col("y").as("node_b"),
        col("n_common"), col("deg_a"), col("deg_b"),
        (col("n_common").cast("double")
          / (col("deg_a") + col("deg_b") - col("n_common")))
          .as("jaccard"))
  }

  /** Synchronous label-propagation communities over a canonical
    * undirected edge table ((a, b), a < b, distinct — e.g.
    * [[coOccurrenceEdges]]): labels start as node ids; each round every
    * node adopts its neighbors' most frequent label, ties to the
    * smallest label. A FIXED `iters` budget is the contract — the
    * synchronous variant can oscillate on bipartite-ish structure, so
    * "run k rounds" is the deterministic form (and community density
    * plateaus after a few rounds in practice). Nodes with no edges are
    * absent from the output by construction.
    *
    * Shape at scale: per round, one hash join (edges ⨝ labels on the
    * neighbor id — both sides key-partitioned), one map-side-combined
    * (node, label) count, and a per-node argmax window (nodes are
    * numerous; the window sorts each node's few candidate labels). Label
    * state is one row per node, re-persisted per round so lineage stays
    * flat. Deterministic: counts are exact, the (count desc, label asc)
    * argmax is total — any engine replays it.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 2,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sym = graft.util.Caches.persist(
      edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b"))))
    graft.util.Fixpoint.iterate(
        sym.select(col("a").as("node")).distinct()
          .withColumn("label", col("node")), iters, "lpa",
        every = checkpointEvery, hold = graft.util.Fixpoint.Persist) { labels =>
      val counts = sym
        .join(labels.select(col("node").as("b"), col("label").as("__nl")),
          "b")
        .groupBy(col("a"), col("__nl"))
        .agg(count(lit(1)).as("__c"))
      // (count desc, label asc) argmax as a lexicographic struct MIN over
      // (-count, label): smallest negated count = largest count, ties to
      // the smallest label in the LABEL'S OWN ordering — the label keeps
      // its native type (string node ids work; negating the label, the
      // old form, forced numeric labels). Same total order as a
      // row_number window, but map-side combinable and sort-free.
      counts
        .groupBy(col("a"))
        .agg(min(struct((-col("__c")).as("__negc"),
          col("__nl").as("__l"))).as("__m"))
        .select(col("a").as("node"), col("__m.__l").as("label"))
    }.state
  }

  /** Newman modularity of a community assignment over a canonical
    * undirected edge table ((a, b), a < b, distinct — e.g.
    * [[coOccurrenceEdges]]): the standard "did the clustering find real
    * structure?" gauge to run beside [[labelPropagation]] before
    * trusting its communities for corpus curation. Per community c:
    *
    *   q_contrib(c) = e_c/m − (d_c/2m)² = (4m·e_c − d_c²) / (4m²)
    *
    * with m = |edges|, e_c = intra-community edges, d_c = degree sum of
    * c's nodes; Q = Σ_c q_contrib. The right-hand form is how it is
    * computed: an EXACT integer numerator (DECIMAL(38,0), no overflow at
    * any corpus size) divided once in double and rounded to 6dp — both
    * engines replay it bit-for-bit. Output: (community, n_nodes,
    * intra_edges, degree_sum, q_contrib), one row per community in
    * `assignment` (communities of isolated nodes appear with zero
    * edges/degree). Nodes in `edges` missing from `assignment` keep
    * their edges in m but contribute to no community — assign every
    * node for a meaningful Q.
    *
    * Shape at scale: two key joins of the edge table against the
    * node-sized assignment, one map-side-combined degree count, and
    * community-sized aggregates; the edge count joins in as a broadcast
    * one-row aggregate. Output is community-bounded.
    */
  def modularity(edges: DataFrame, assignment: DataFrame,
      nodeCol: String = "node", commCol: String = "community"): DataFrame = {
    val e = graft.util.Caches.persist(
      edges.select(col("a"), col("b")))
    val asg = assignment
      .select(col(nodeCol).as("node"), col(commCol).as("community"))
    val dec = "decimal(38,0)"
    val mRow = e.agg(count(lit(1)).cast(dec).as("__m"))
    val intra = e
      .join(asg.select(col("node").as("a"), col("community").as("__ca")), "a")
      .join(asg.select(col("node").as("b"), col("community").as("__cb")), "b")
      .where(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
    val perComm = asg.join(deg, Seq("node"), "left")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("__deg"), lit(0L))).cast("long").as("degree_sum"))
    perComm
      .join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (round(
          (lit(4).cast(dec) * col("__m") *
              coalesce(col("intra_edges"), lit(0L)).cast(dec) -
            col("degree_sum").cast(dec) * col("degree_sum").cast(dec))
            .cast("double") /
            (lit(4d) * col("__m").cast("double") * col("__m").cast("double")),
          6) + lit(0d)).as("q_contrib"))
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of the degrees at the two ends of an edge, over both
    * orientations of each undirected edge ((a, b), a < b). Positive =
    * hubs attach to hubs (social-network shape), negative = hubs attach
    * to leaves (star/hub-and-spoke — the shape that makes joins skew
    * and mixing slow), ≈0 = degree-neutral wiring. One number a pipeline
    * reads BEFORE choosing between the plain and salted join paths, and
    * a drift gauge for graph snapshots next to [[modularity]].
    *
    * Output: one row `(n_edges, n_nodes, assortativity)`; degree-regular
    * graphs (zero degree variance — including a single edge) report 0
    * by convention. Ties to no tolerance: degrees are exact longs, so
    * the sufficient statistics (Σx, Σxx, Σxy over the 2m orientation
    * samples; the x and y marginals coincide by symmetry) accumulate as
    * EXACT DECIMAL(38,0) integer sums — no fixed-point scaling needed —
    * and the coefficient is one final double expression, replayable on
    * any engine under any layout.
    *
    * Shape at scale: one map-side-combined degree count, two node-key
    * joins of the edge table against it, one global integer-sum
    * aggregate (partial-combined), arithmetic on a single row. No
    * windows, no driver state; deg·deg ≤ n² stays far inside 38 digits.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__deg"))
    val dec = "decimal(38,0)"
    val pairs = e
      .join(deg.select(col("node").as("a"), col("__deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("__deg").as("__db")), "b")
    // both orientations at once: x-marginal = y-marginal by symmetry
    // per-row products in DECIMAL: deg^2 at full long degree range would
    // overflow a LONG intermediate, the decimal path never does
    val da = col("__da").cast(dec); val db = col("__db").cast(dec)
    val stats = pairs.agg(count(lit(1)).as("n_edges"),
      sum((col("__da") + col("__db")).cast(dec)).as("__sx"),
      sum(da * da + db * db).as("__sxx"),
      sum(lit(2).cast(dec) * da * db).as("__sxy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val n = (col("n_edges") * 2L).cast("double")
    def d(c: String) = col(c).cast("double")
    val varX = n * d("__sxx") - d("__sx") * d("__sx")
    val r = (n * d("__sxy") - d("__sx") * d("__sx")) / varX
    stats.crossJoin(broadcast(nNodes))
      .select(col("n_edges"), col("n_nodes"),
        (round(when(varX > 0, r).otherwise(0d), 6) + lit(0d))
          .as("assortativity"))
  }

  /** k-core decomposition by iterative peeling over a DISTINCT undirected
    * edge table ((a, b), a < b): each round drops every node whose
    * current degree is < k, together with its edges, and a node removal
    * can push neighbors below k — hence the loop. A FIXED `rounds` budget
    * is the contract (the labelPropagation convention): the exact k-core
    * needs peeling to a fixpoint, whose depth is data-dependent; `rounds`
    * bounds both lineage and wall-clock, and the method WARNS when the
    * budget was too small (nodes below k still present after the last
    * round), so an under-peeled result is loud, not silent. Returns the
    * surviving nodes as (node, degree) — degrees counted WITHIN the core.
    *
    * Shape at scale: per round, one map-side-combined degree count (one
    * row per node) and two semi joins of the edge table against that
    * node list (broadcast when the survivor set is small, key-partitioned
    * otherwise) — no driver-side state, lineage flattened by per-round
    * persists with immediate eviction of the superseded generation. Peel
    * depth in practice is far below the theoretical O(n) worst case:
    * each round removes every currently-under-k node at once, and the
    * loop stops at the first no-drop round (identical result to running
    * the full budget — see the body comment).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8,
      checkpointEvery: Int = 0): DataFrame =
    graft.util.Fixpoint.scoped(edges.sparkSession) { loop =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = loop(edges)
    val sym0 = graft.util.Caches.persist(
      und.select(col("a"), col("b"))
        .union(und.select(col("b").as("a"), col("a").as("b"))))
    var edgeCount = sym0.count()
    // per-round exchanges carry edge-sized tables; size the loop's
    // shuffle partitions to that
    loop.sizeTo(edgeCount)
    // Early stop when a round drops nothing: a no-drop round is the
    // fixpoint, every later round is the identity, so stopping produces
    // the SAME result as running the full budget — the budget is a
    // ceiling, not a schedule. The count that detects it reads the
    // just-materialized table (no recomputation).
    var keep: DataFrame = null
    val sym = graft.util.Fixpoint.iterate(sym0, rounds, "kcore",
        every = checkpointEvery, hold = graft.util.Fixpoint.Persist,
        changed = Some { next =>
          val nextCount = next.count()
          keep.unpersist(blocking = false)
          val dropped = nextCount != edgeCount
          edgeCount = nextCount
          dropped
        }) { sym =>
      keep = graft.util.Caches.persist(
        sym.groupBy("a").agg(count(lit(1)).as("__d"))
          .where(col("__d") >= k).select("a"))
      // semi joins: the node list never widens the edge rows, and a
      // small surviving-node table broadcasts (persisted stats make the
      // size estimate accurate)
      sym.join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
    }.state
    val deg = graft.util.Caches.persist(
      sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree")))
    val under = deg.where(col("degree") < k).count()
    if (under > 0) log.warn(
      s"kCore: $under node(s) still below k=$k after rounds=$rounds — " +
        "the peel did not reach its fixpoint; raise rounds for the exact core")
    deg
  }

  /** Deterministic "random" walks of fixed `length` from EVERY node over
    * a canonical undirected edge table ((a, b), a < b, distinct — e.g.
    * [[coOccurrenceEdges]]): step t leaves the current node through
    * neighbor index h32(start ‖ '|' ‖ t ‖ '|' ‖ salt) mod degree over the
    * SORTED adjacency list. This is the node2vec/DeepWalk positive-pair
    * generator with the engine's hash-sampling contract
    * ([[Sampling.deterministic]]) instead of an RNG: the same corpus
    * yields the same walks on every run, any engine, any partitioning —
    * and a new `salt` re-deals a fresh walk set per epoch. Output long
    * format: (start, step, node), step 0..length.
    *
    * Hashing (start, t) rather than the current node keeps two walks
    * that meet at a node from lock-stepping together afterwards — the
    * diversity skip-gram training wants — while staying a pure function
    * of the walk's identity.
    *
    * Shape at scale: the adjacency table (one row per node, sorted
    * neighbor array — bounded by the co-occurrence builder's maxGroup
    * cap) builds once and persists; each of the `length` steps is ONE
    * hash join of the walk frontier (one row per start) against it. No
    * RNG state, no driver participation, walk storage is
    * nodes × (length+1) rows.
    */
  /** HyperBall-style approximate neighborhood sizes (Boldi & Vigna
    * 2013): per node, the estimated number of nodes within `radius`
    * hops, from iterated HLL register merges — B_0(v) = HLL({v}),
    * B_{r+1}(v) = max-merge(B_r(v), ⋃_{v~u} B_r(u)). This is the
    * reachability/effective-diameter primitive at graph scale: exact
    * r-hop BFS materializes O(n·ball) pairs, while the register state
    * here is ONE m-byte PACKED buffer per node
    * ([[graft.functions.PackRegisters]]) and each round is ONE edge join
    * shipping one buffer per edge + ONE byte-wise-max aggregation — the
    * whole point of the algorithm. (The row form would ship one row per
    * (edge, non-zero bucket): hundreds of rows per edge at real ball
    * sizes. The packed buffers unpack to the identical row table at the
    * end, so the estimate is bit-identical to the row-form computation.)
    *
    * Output: (node, exact_ball, ball_estimate) — the exact column is the
    * [[graft.functions.Sketches.hllDistinct]] calibration convention
    * (pair the estimate with its truth at test scale; at corpus scale
    * run the registers alone via the same internals). Deterministic: the
    * registers are the engine's md5-derived HLL contract, the estimate
    * the usual alpha·m²/Σ2^-M formula rounded to 4dp.
    */
  def neighborhoodSizes(und: DataFrame, radius: Int = 2,
      m: Int = 512, checkpointEvery: Int = 0): DataFrame =
    graft.util.Fixpoint.scoped(und.sparkSession) { loop =>
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val (sym, nodes, ests) =
      ballEstimates(loop(und), radius, m, checkpointEvery)
    val est = ests.last.withColumnRenamed(s"__e$radius", "ball_estimate")
    // exact calibration ball via iterated distinct BFS pairs — the
    // quadratic thing the registers replace; fine at gate scale. Seeded
    // at B_1 like the register loop (self ∪ neighbors). The seed is
    // distinct when `und` is the documented distinct a<b edge set; at
    // radius 1 no round's distinct runs after it, so it is deduplicated
    // explicitly there (duplicate edges or self-loops in a non-canonical
    // input would otherwise inflate exact_ball) — deeper radii clean the
    // seed in their first round's distinct.
    val seed = nodes.select(col("node").as("start"), col("node").as("x"))
      .unionAll(sym.select(col("a").as("start"), col("b").as("x")))
    def widen(reach: DataFrame): DataFrame =
      reach.unionAll(
          reach.join(sym.select(col("a").as("x"), col("b").as("__nx")),
            "x")
            .select(col("start"), col("__nx").as("x")))
        .distinct()
    // materialized only BETWEEN rounds (lineage truncation for the next
    // one); the final round flows straight into its consumer
    val reached = graft.util.Fixpoint.iterate(
        graft.util.Caches.persist(if (radius == 1) seed.distinct() else seed),
        math.max(0, radius - 2), "reach", every = checkpointEvery,
        hold = graft.util.Fixpoint.Count)(widen).state
    val reach = if (radius == 1) reached else widen(reached)
    val exact = reach.groupBy(col("start").as("node"))
      .agg(count(lit(1)).as("exact_ball"))
    exact.join(est, "node")
  }

  /** HyperBall HARMONIC CENTRALITY (Boldi & Vigna 2013/2014 — the
    * metric HyperBall was built to compute): harmonic(v) =
    * Σ_{u≠v} 1/d(v,u), estimated from the per-radius ball-size sequence
    * as Σ_{r=1..R} max(|B_r(v)| − |B_{r−1}(v)|, 0)/r over the SAME
    * packed-register loop as [[neighborhoodSizes]] — each round's
    * registers are unpacked to an estimate table, and the per-radius
    * deltas (clamped at 0: the linear-counting/raw crossover can step a
    * hair backwards) accumulate in ascending-radius order, so any
    * engine replays the identical double arithmetic. Truncation at
    * `radius` is the standard HyperBall contract: contributions beyond
    * R are bounded by n/(R+1) and the estimator is meant to run to the
    * effective diameter.
    *
    * Output: (node, harmonic_exact, harmonic_estimate) — the exact
    * column is the gate-scale calibration convention of
    * [[neighborhoodSizes]], computed by frontier BFS with first-visit
    * distances and an exact fixed-point (×2^20) reciprocal sum (1/d is
    * not binary-exact for d=3; the long sum is order-free).
    *
    * Scale shape: identical to [[neighborhoodSizes]] (one m-byte buffer
    * per edge per round, byte-max map-side combine) plus one
    * unpack+estimate aggregation per round — output rows per round are
    * one per node. The calibration BFS is gate-only by design.
    */
  def harmonicCentrality(und: DataFrame, radius: Int = 2, m: Int = 512,
      checkpointEvery: Int = 0): DataFrame =
    graft.util.Fixpoint.scoped(und.sparkSession) { loop =>
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val (sym, nodes, ests) =
      ballEstimates(loop(und), radius, m, checkpointEvery)
    // ascending-radius fold of clamped deltas — identical operand order
    // in the oracle
    val wide = ests.reduce(_.join(_, "node"))
    val harmonic = (1 to radius)
      .map(r => greatest(col(s"__e$r") - col(s"__e${r - 1}"), lit(0d))
        / lit(r.toDouble))
      .reduce(_ + _)
    // deliberately NOT re-rounded: the operands are exact 4dp-rounded
    // doubles, so the fold lands on exact decimal midpoints where
    // HALF_UP (Spark) and the C library (replay engines) disagree — the
    // bitextMine margin lesson; the raw IEEE fold is deterministic
    val est = wide.select(col("node"), harmonic.as("harmonic_estimate"))
    // exact calibration: frontier BFS with first-visit distance, exact
    // fixed-point reciprocal sum (gate-scale only, like exact_ball)
    var seen = graft.util.Caches.persist(
      nodes.select(col("node").as("start"), col("node").as("x"),
        lit(0L).as("d")))
    var frontier = seen
    // NOT partition-sized (round-20 negative result, part of the
    // harmonic 1.40x regression): the frontier distinct carries the
    // ball-mass pair table, real per-row work at any scale.
    for (r <- 1 to radius) {
      val nxt = graft.util.Caches.persist(
        frontier.join(sym.select(col("a").as("x"), col("b").as("__nx")),
            "x")
          .select(col("start"), col("__nx").as("x")).distinct()
          .join(seen.select("start", "x"), Seq("start", "x"), "left_anti")
          .withColumn("d", lit(r.toLong)))
      nxt.count()
      seen = graft.util.Caches.persist(seen.unionByName(nxt))
      frontier = nxt
    }
    val exact = seen.where(col("d") > 0)
      .groupBy(col("start").as("node"))
      .agg(round(
        sum(round(lit(1048576.0) / col("d")).cast("long")).cast("double")
          / 1048576.0, 4).as("harmonic_exact"))
    exact.join(est, "node")
      .select("node", "harmonic_exact", "harmonic_estimate")
  }

  /** The HyperBall machinery behind [[neighborhoodSizes]],
    * [[harmonicCentrality]] and [[neighborhoodFunction]]: run the
    * packed-register loop and return (sym edges, node table, per-radius
    * estimate tables) where table r has columns (node, __e{r}) — the
    * estimated |B_r(v)| at every radius 0..radius.
    */
  private def ballEstimates(und: DataFrame, radius: Int, m: Int,
      checkpointEvery: Int): (DataFrame, DataFrame, Seq[DataFrame]) = {
    import graft.functions.Sketches
    def aggCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftColumnBridge.column(e.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Byte]]]
        .toAggregateExpression())
    def expr(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftColumnBridge.expression(c)
    val sym = graft.util.Caches.persist(
      und.select(col("a"), col("b"))
        .union(und.select(col("b").as("a"), col("a").as("b"))))
    val nodes = sym.select(col("a").as("node")).distinct()
    val (bCol, rhoCol) = Sketches.registerCoords(col("__member"), m)
    def packed(members: DataFrame): DataFrame =
      members.select(col("node"), bCol.as("__b"), rhoCol.as("__rho"))
        .groupBy("node")
        .agg(aggCol(graft.functions.PackRegisters(
          expr(col("__b")), expr(col("__rho")), m)).as("__regs"))
    def estimateOf(regs: DataFrame, name: String): DataFrame = {
      val rows = regs.select(col("node"),
          posexplode(org.apache.spark.sql.GraftColumnBridge.column(
            graft.functions.Expressions.BytesToLongArray(
              expr(col("__regs"))))).as(Seq("__b", "__m")))
        .where(col("__m") > 0)
      Sketches.hllEstimate(rows, Seq("node"), m)
        .withColumnRenamed("hll_estimate", name)
    }
    // B_0 = {v}; B_1 = {v} ∪ N(v) built DIRECTLY: registers of a set are
    // per-bucket maxima over its members, so aggregating the V+E
    // (node, member) rows in one pass produces bit-identical registers
    // to a {v}-seed plus one merge round — one join+agg round saved.
    // sym's (a, b) rows are distinct by construction (und is an edge
    // set), so no dedup needed.
    val est0 = estimateOf(packed(
      nodes.select(col("node"), col("node").as("__member"))), "__e0")
    val members1 = nodes.select(col("node"), col("node").as("__member"))
      .unionAll(sym.select(col("a").as("node"), col("b").as("__member")))
    // every per-radius estimate table in `ests` references ITS round's
    // generation and evaluates lazily after the loop: superseded
    // generations are kept, cached or checkpointed. NOT partition-sized
    // (round-20 negative result, 1.16-1.40x on nf/harmonic): the
    // packed-register merge is an object aggregate whose per-row cost
    // dominates — collapsing its exchange to one task serializes real
    // work, unlike the label-table fixpoints.
    val ests = scala.collection.mutable.ArrayBuffer(est0)
    // ONE m-byte buffer per edge crosses each round's join — never
    // per-bucket rows
    val last = graft.util.Fixpoint.iterate(
        graft.util.Caches.persist(packed(members1)), radius - 1, "ball",
        every = checkpointEvery, hold = graft.util.Fixpoint.Count,
        keepGenerations = true) { regs =>
      ests += estimateOf(regs, s"__e${ests.size}")
      regs.unionAll(sym
          .join(regs.withColumnRenamed("node", "b"), "b")
          .select(col("a").as("node"), col("__regs")))
        .groupBy("node")
        .agg(aggCol(graft.functions.MergePackedRegisters(
          expr(col("__regs")), m)).as("__regs"))
    }.state
    ests += estimateOf(last, s"__e${ests.size}")
    (sym, nodes, ests.toSeq)
  }

  /** The NEIGHBORHOOD FUNCTION / distance distribution (the other
    * headline HyperBall output): N(r) = Σ_v |B_r(v)| — the estimated
    * number of node pairs within distance r — for every radius
    * 0..radius, with the cumulative fraction against the largest
    * computed radius. The effective-diameter readout: the first r whose
    * `frac` clears q (e.g. 0.9) brackets the q-effective diameter;
    * interpolate between the bracketing rows.
    *
    * Output: (r, pairs_est, frac), one row per radius. Per-node
    * estimates fold through an exact fixed-point (×2^20) long sum —
    * order-free, so the corpus-wide total is bit-deterministic under any
    * partitioning (a double sum here would drift with combine order).
    * Same loop cost as [[neighborhoodSizes]]; output is radius+1 rows.
    */
  def neighborhoodFunction(und: DataFrame, radius: Int = 2, m: Int = 512,
      checkpointEvery: Int = 0): DataFrame =
    graft.util.Fixpoint.scoped(und.sparkSession) { loop =>
    require(radius >= 1, s"radius must be >= 1, got $radius")
    val (_, _, ests) = ballEstimates(loop(und), radius, m, checkpointEvery)
    val rows = ests.zipWithIndex.map { case (df, r) =>
      df.agg(sum(round(col(s"__e$r") * 1048576.0).cast("long")).as("__s"))
        .select(lit(r.toLong).as("r"),
          round(col("__s").cast("double") / 1048576.0, 4).as("pairs_est"))
    }.reduce(_ unionAll _)
    val total = rows.where(col("r") === radius)
      .select(col("pairs_est").as("__t"))
    rows.crossJoin(broadcast(total))
      .select(col("r"), col("pairs_est"),
        (round(col("pairs_est") / col("__t"), 6) + lit(0d)).as("frac"))
  }

  def deterministicWalks(und: DataFrame, length: Int = 3,
      salt: String = ""): DataFrame = {
    require(length >= 1, s"length must be >= 1, got $length")
    val sym = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
    val adj = graft.util.Caches.persist(
      sym.groupBy(col("a").as("node"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs")))
    var frontier = adj.select(col("node").as("start"),
      col("node").as("cur"))
    val steps = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("start"), lit(0L).as("step"),
        col("cur").as("node")))
    for (t <- 1 to length) {
      val h = graft.functions.TextFunctions.h32(
        concat(col("start").cast("string"), lit(s"|$t|$salt")))
      frontier = frontier
        .join(adj.withColumnRenamed("node", "cur"), "cur")
        .select(col("start"),
          element_at(col("nbrs"),
            (h % size(col("nbrs"))).cast("int") + 1).as("cur"))
      steps += frontier.select(col("start"), lit(t.toLong).as("step"),
        col("cur").as("node"))
    }
    steps.reduce(_ unionAll _)
  }
}
