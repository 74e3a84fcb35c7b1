package graft

/** Regression guard for the scale invariants PLANS.md documents: no
  * operator may plan a cartesian product, and the candidate-bounded
  * operators must join on their bucket/block keys. Checked against the
  * actual physical plans at test scale.
  */
class PlanGuardSpec extends SparkSpec {

  private val heavy = Seq(
    "dedup_minhash_pairs", "dedup_simhash_pairs", "dedup_ngram_jaccard",
    "dedup_embedding", "similarity_topk", "similarity_ann", "similarity_ivf",
    "similarity_ivf_scalable", "join_agg", "window_topn", "sketch_kmv",
    "asof_join", "range_join", "salted_join", "contamination_check",
    "sample_per_stratum",
    // round 7
    "text_repetition", "tfidf_topk", "events_assemble", "dedup_passages",
    "heavy_hitters", "sample_weighted", "embed_standardize", "profile_table",
    // round 8
    "bm25_topk", "pagerank", "triangle_count", "dedup_edit", "bloom_join",
    "embed_quantize", "retrieval_rrf",
    // round 8b
    "sketch_hll", "sketch_cms", "merge_upsert", "scd2_history",
    "embed_project", "outliers_mad", "cube_agg",
    // round 9 (the deliberate one-row broadcast crossJoins in word_pmi /
    // sketch_join_size plan as BroadcastNestedLoopJoin, not
    // CartesianProduct — the distinction this guard exists to keep)
    "hard_negatives", "ann_recall", "dedup_containment", "text_knn",
    "word_pmi", "text_entropy", "bpe_pair_counts", "sketch_join_size",
    "multimodal_phash", "hilbert_layout", "sketch_quantile_shards",
    // round 10
    "bitext_mine", "text_boilerplate", "dedup_prefix", "text_novelty",
    // round 13 (the cheap-to-plan additions; the iterative graph
    // fixpoints execute during query construction and are covered by
    // their own specs)
    "text_dup_substring", "text_dup_substring_apply",
    "text_self_repetition_apply", "text_novelty_bloom_big",
    "ab_bootstrap", "regress_group")

  test("no CartesianProduct in any operator plan") {
    heavy.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("LSH/blocked operators join on their bucket keys") {
    Seq("dedup_minhash_pairs" -> "bsig", "dedup_embedding" -> "bsig",
      "dedup_simhash_pairs" -> "bkey", "dedup_ngram_jaccard" -> "lenb",
      "dedup_edit" -> "lenb")
      .foreach { case (name, key) =>
        val plan = SparkEntry.queries(name)(spark, sf001)
          .queryExecution.executedPlan.toString
        assert(plan.contains(key), s"$name plan lost its bucket key '$key'")
      }
  }

  test("bloom probe filters the fact scan BEFORE the semi join") {
    val plan = SparkEntry.queries("bloom_join")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the pruning predicate (xxhash64 probes against the bitmap literal)
    // must sit under a Filter, not inside the join condition
    assert(plan.contains("xxhash64"), s"bloom probe missing:\n$plan")
    assert(plan.contains("LeftSemi"), s"exact semi join missing:\n$plan")
  }

  test("disk-partitioned layout prunes partitions on a key filter") {
    implicit val ctx: graft.pipeline.PipelineContext =
      graft.pipeline.PipelineContext(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val conn = new graft.connect.ParquetConnector(tmp)
    spark.read.parquet(s"$sf001/nation.parquet")
      .createOrReplaceTempView("pg_nation")
    graft.ops.LoadStage("w", conn, "pg_nation", "nation",
      org.apache.spark.sql.SaveMode.Overwrite,
      options = Map("confirm.truncate" -> "true",
        "disk.partitionBy" -> "n_regionkey")).run()
    val filtered = conn.read("nation", Map.empty).where("n_regionkey = 2")
    val scan = filtered.queryExecution.executedPlan.toString
    // the key predicate lands in PartitionFilters (directory pruning),
    // not in the row-level data filters
    assert(scan.contains("PartitionFilters") && scan.contains("n_regionkey"), scan)
    val expected = spark.read.parquet(s"$sf001/nation.parquet")
      .where("n_regionkey = 2").count()
    assert(filtered.count() == expected)
  }

  test("top-k selection plans as TakeOrdered, not a global sort") {
    val plan = SparkEntry.queries("sketch_kmv")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("cms probe joins against a BROADCAST sketch; heavy keys TakeOrdered") {
    val plan = SparkEntry.queries("sketch_cms")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the depth x width sketch is fixed-size: it must broadcast, and the
    // exact top-N must be a per-partition top-k, never a global sort
    assert(plan.contains("BroadcastExchange"), s"sketch not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-N not TakeOrdered:\n$plan")
  }

  test("hard negatives broadcast the anchor side; the corpus never shuffles") {
    val plan = SparkEntry.queries("hard_negatives")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the anchor set is small by contract: it must ride a broadcast
    // nested loop over one corpus scan — an Exchange of the corpus would
    // mean the label filter lost its pre-scoring position
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"anchors not broadcast:\n$plan")
  }

  test("pmi totals ride one-row broadcasts, never a corpus shuffle") {
    val plan = SparkEntry.queries("word_pmi")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"totals not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"pmi went cartesian:\n$plan")
  }

  test("hll/cube aggregations partial-aggregate map-side") {
    Seq("sketch_hll", "cube_agg").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      // partial HashAggregate BEFORE the exchange = map-side combine: the
      // shuffle carries registers / group cells, never input rows
      val partialIdx = plan.indexOf("partial")
      assert(partialIdx >= 0, s"$name: no partial aggregation:\n$plan")
    }
  }

  test("co-occurrence edges build without a Window or a member self-join") {
    // round 10: one grouped pass + tail-slice pairing replaced the
    // window-count + member self-join. The ONE remaining join is the
    // group-size guard (counts keyed on the group, pre-collect) — it
    // must stay keyed on __g and the pairing itself must stay a
    // Generate (explode), never a join of member rows against each
    // other, and no Window may reappear.
    val plan = graft.ops.Graph.coOccurrenceEdges(
        spark.read.parquet(s"$sf001/lineitem.parquet"),
        "l_orderkey", "l_partkey", maxGroup = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"edge build regained a window:\n$plan")
    assert(plan.contains("Generate"), s"tail-slice pairing missing:\n$plan")
    // size guard: exactly one join, keyed on the group column
    assert("Join".r.findAllIn(plan).size <= 2, // one join (+possible Reused ref)
      s"edge build regained the member self-join:\n$plan")
  }

  test("dedup verify stages run the fused sorted-Jaccard kernel") {
    // round 10: per-pair hash sets (array_intersect / array_distinct)
    // must not reappear in the similarity-verify projections
    Seq("dedup_minhash_pairs", "dedup_prefix", "dedup_ngram_jaccard")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf001)
          .queryExecution.executedPlan.toString
        assert(plan.contains("sorted_jaccard"),
          s"$name lost the fused kernel:\n$plan")
        assert(!plan.contains("array_intersect"),
          s"$name re-grew per-pair hash sets:\n$plan")
      }
  }

  test("neighborhood sizes run on PACKED register buffers") {
    // round 10: the register rounds must aggregate m-byte buffers
    // (pack_registers / merge_packed_registers), never per-bucket rows —
    // a regression to the row form ships hundreds of rows per edge
    val plan = SparkEntry.queries("graph_ball")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pack_registers"),
      s"packed seed aggregation missing:\n${plan.take(4000)}")
    assert(plan.contains("merge_packed_registers"),
      s"packed merge round missing:\n${plan.take(4000)}")
  }

  test("round-12 rank machinery: no data-sized single-partition sort") {
    // classifier_auc ranks scores through the distributed range-partition
    // CDF; heavy_change ends in a per-partition top-k. A regression to a
    // global ORDER BY / no-partition window would plan a data-sized
    // Exchange SinglePartition (under a Sort / Window); the LEGITIMATE
    // one-row statistics reduce plans SinglePartition too, but fed by a
    // partial aggregate — so the guard checks every single-partition
    // exchange's CHILD line is a partial aggregate, never data.
    def singlePartitionChildrenArePartials(name: String): Unit = {
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toIndexedSeq
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.contains("Exchange SinglePartition")) {
          val child = lines.drop(i + 1)
            .find(c => c.exists(_.isLetter)).getOrElse("")
          assert(child.contains("partial_"),
            s"$name: Exchange SinglePartition fed by non-partial child " +
              s"'${child.trim.take(120)}':\n${plan.take(4000)}")
        }
      }
    }
    singlePartitionChildrenArePartials("classifier_auc")
    val hc = SparkEntry.queries("heavy_change")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(hc.contains("TakeOrderedAndProject"),
      s"heavy_change top-k lost TakeOrdered:\n${hc.take(4000)}")
    singlePartitionChildrenArePartials("heavy_change")
  }

  test("ab_srm's single partition carries arm-cardinality rows only") {
    // srmCheck's unpartitioned window is BY DESIGN a SinglePartition —
    // over one row per ARM, never per unit: the partial count aggregate
    // must sit below the single-partition exchange so the shuffle
    // carries arm counts, not units.
    val plan = SparkEntry.queries("ab_srm")(spark, sf001)
      .queryExecution.executedPlan.toString
    val spIdx = plan.indexOf("Exchange SinglePartition")
    assert(spIdx >= 0, s"srm window shape changed:\n${plan.take(4000)}")
    val below = plan.substring(spIdx)
    assert(below.contains("HashAggregate") && below.contains("count"),
      s"ab_srm single partition is not fed by per-arm counts:\n${plan.take(4000)}")
  }

  test("bh rank machinery windows per range partition, never globally") {
    val plan = SparkEntry.queries("ab_bh_adjust")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the rank window must partition by __pid (range partitions + local
    // row_number + offsets); a global no-partition window would show a
    // windowspecdefinition without the pid column
    assert(plan.contains("__pid"), s"bh lost its range-partition rank:\n${plan.take(3000)}")
    val lines = plan.linesIterator.toIndexedSeq
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.contains("Exchange SinglePartition")) {
        val child = lines.drop(i + 1)
          .find(c => c.exists(_.isLetter)).getOrElse("")
        assert(child.contains("partial_"),
          s"bh single partition fed by non-partial child:\n${plan.take(3000)}")
      }
    }
  }

  test("zorder bloom read prunes data partitions dynamically") {
    // the surviving-block semi join must reach the data scan as a
    // dynamic partition filter, never a collected literal block list
    val plan = SparkEntry.queries("zorder_prune_bloom")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"bloom block list is not a dynamic partition filter:\n${plan.take(4000)}")
    assert(!plan.contains("block_id IN"),
      s"collected literal block list found:\n${plan.take(4000)}")
  }

  test("upsert merge is one hash shuffle on the key (no sort-merge of full rows twice)") {
    val plan = SparkEntry.queries("merge_upsert")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the union feeds ONE window over hashpartitioning(o_orderkey); a
    // regression to join-based merge would plan SortMergeJoin
    assert(!plan.contains("SortMergeJoin"), s"merge planned a join:\n$plan")
    assert(plan.contains("Window"), s"latest-wins window missing:\n$plan")
  }

  test("round-14 statistics: no data-sized single-partition exchanges") {
    // the same mechanical guard the round-12/13 rank machinery carries:
    // every Exchange SinglePartition in these plans must be fed by a
    // partial aggregate (one-row or k-row reductions), never by data.
    // kruskal/wasserstein additionally rank through the __pid
    // range-partition machinery — their windows must keep the pid.
    def guard(name: String, wantPid: Boolean = false): Unit = {
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      if (wantPid)
        assert(plan.contains("__pid"),
          s"$name lost its range-partition rank machinery:\n${plan.take(3000)}")
      val lines = plan.linesIterator.toIndexedSeq
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.contains("Exchange SinglePartition")) {
          val child = lines.drop(i + 1)
            .find(c => c.exists(_.isLetter)).getOrElse("")
          assert(child.contains("partial_"),
            s"$name: Exchange SinglePartition fed by non-partial child " +
              s"'${child.trim.take(120)}':\n${plan.take(4000)}")
        }
      }
    }
    // kruskal's rank machinery runs EAGERLY inside the operator (its
    // k-row result returns as a LocalTableScan), so the pid assert
    // applies to the lazily-planned wasserstein only
    guard("ab_kruskal")
    guard("drift_wasserstein", wantPid = true)
    guard("ab_anova")
    guard("ab_welch")
    guard("profile_mi")
    guard("drift_psi")
    guard("drift_jsd")
    guard("ts_acf")
    guard("ab_poststrat")
  }

  test("cc rounds join the checkpointed labels without a label-side exchange") {
    import spark.implicits._
    // every label generation ends hash-partitioned on id with the loop's
    // partition count and the edges are cached partitioned on dst, so the
    // checkpointed label scan must reach its join with no shuffle
    // Exchange in between — with broadcast joins allowed (tiny graphs)
    // and with them off and several partitions (the corpus-scale plan)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (3L, 5L), (9L, 11L))
      .toDF("doc_a", "doc_b")
    def roundPlan(confs: (String, String)*): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_cc_plans")
      val all = confs :+ ("spark.graft.planDumpDir" -> dir.toString)
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        graft.ops.Dedup.connectedComponents(pairs).collect()
        java.nio.file.Files.readString(dir.resolve("cc_round_1.txt"))
      } finally {
        all.foreach { case (k, _) => spark.conf.unset(k) }
        val dumps = java.nio.file.Files.list(dir)
        try dumps.forEach(java.nio.file.Files.delete(_)) finally dumps.close()
        java.nio.file.Files.delete(dir)
      }
    }
    // the formatted tree: an operator's depth is the column of its
    // "+-" / ":-" marker, its name the text after it
    def labelScanPaths(plan: String): Seq[Seq[String]] = {
      val tree = plan.linesIterator.drop(1).takeWhile(_.trim.nonEmpty)
        .map { l =>
          val m = math.max(l.indexOf("+- "), l.indexOf(":- "))
          val depth = if (m < 0) -1 else m
          (depth, l.substring(depth + 3).stripPrefix("* ").trim)
        }.toIndexedSeq
      tree.indices.filter(i => tree(i)._2.startsWith("Scan ExistingRDD"))
        .map { i =>
          // ancestors from the scan up to (and including) the first join
          var d = tree(i)._1
          val up = (i - 1 to 0 by -1).flatMap { j =>
            if (tree(j)._1 < d) { d = tree(j)._1; Some(tree(j)._2) }
            else None
          }
          val k = up.indexWhere(_.contains("Join"))
          assert(k >= 0, s"label scan with no join above it:\n$plan")
          up.take(k + 1)
        }
    }
    for (plan <- Seq(roundPlan(),
        roundPlan("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.graft.fixpoint.rowsPerPartition" -> "2"))) {
      val paths = labelScanPaths(plan)
      assert(paths.size >= 2, s"expected the label scans of both joins:\n$plan")
      paths.foreach { path =>
        assert(!path.exists(_.startsWith("Exchange")),
          s"shuffle between the label scan and its join (${path.mkString(" <- ")}):\n$plan")
      }
    }
  }
}
