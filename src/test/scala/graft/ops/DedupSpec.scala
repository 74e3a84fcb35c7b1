package graft.ops

import graft.SparkSpec
import graft.pipeline.Repartition
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"), // exact dup of 0
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda", "en"), // near dup of 0
    (3L, "one two three four five six seven eight nine ten", "en"),
    (4L, "completely different words in this document entirely unlike others", "de")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup keeps the smallest id per key") {
    val out = Dedup.exact(corpus, Seq("text"), Seq("doc_id"))
    assert(out.count() == 4)
    assert(out.where($"doc_id" === 1L).isEmpty)
  }

  test("exact dedup digest mode selects the same winners, keeps the schema") {
    val plain = Dedup.exact(corpus, Seq("text"), Seq("doc_id"))
    val digest = Dedup.exact(corpus, Seq("text"), Seq("doc_id"), byDigest = true)
    assert(digest.columns.toSeq == corpus.columns.toSeq)
    assert(datasetEquality(plain, digest))
  }

  test("exact dedup: null tieBreak values lose to real ones and never erase a group") {
    val df = Seq[(java.lang.Long, String)](
      (null, "k1"), (7L, "k1"), (3L, "k1"), // null must not beat (or skip) 3
      (null, "k2"), (null, "k2")            // all-null group still yields a real row
    ).toDF("rank", "key")
    val out = Dedup.exact(df, Seq("key"), Seq("rank")).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1)).toMap
    assert(out == Map(Some(3L) -> "k1", None -> "k2"),
      s"null-safe tieBreak broken: $out")
  }

  test("exact dedup plans a partial aggregation, not a global window sort") {
    val plan = Dedup.exact(corpus, Seq("text"), Seq("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window sort in exact-dedup plan:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("min_by"),
      s"expected min_by aggregate:\n$plan")
  }

  test("incremental dedup drops in-batch dupes AND history hits, digests only") {
    val history = Seq((100L, "seen before"), (101L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (200L, "brand new"), (201L, "brand new"), // in-batch dup -> keep 200
      (202L, "seen before")                     // history hit -> dropped
    ).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch,
        Dedup.digests(history, Seq("text")), Seq("text"), Seq("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(200L))
    // the persisted state is digests only: one 64-hex column
    val dg = Dedup.digests(history, Seq("text"))
    assert(dg.columns.toSeq == Seq("digest") && dg.count() == 2
      && dg.head().getString(0).length == 64)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair found (J=1)")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      "near dup pair found (one appended word, J=9/10)")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      "unrelated docs produce no pairs")
  }

  test("minhash apply greedily drops higher-id near-dups") {
    val kept = Dedup.minhashApply(corpus, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L))
  }

  test("OPH pairs: exact dups always recalled, scores identical to the " +
      "k-permutation path on shared pairs, layout-invariant") {
    val oph = Dedup.minhashPairsOPH(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical shingle sets => identical OPH signatures => same bucket
    assert(oph.contains((0L, 1L)) && oph((0L, 1L)) == 1.0,
      "exact duplicates must share every band under any signature scheme")
    assert(!oph.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated docs produce no pairs")
    // candidate generation differs; VERIFIED scores must not
    val mh = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    oph.keySet.intersect(mh.keySet).foreach { p =>
      assert(oph(p) == mh(p), s"pair $p scored differently")
    }
    val again = Dedup.minhashPairsOPH(corpus.repartition(7), "doc_id",
        "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(again == oph, "OPH signature must be layout-invariant")
    graft.util.Caches.unpersistAll()
  }

  test("OPH banding recalls most k-permutation pairs on a real corpus") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val mh = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val oph = Dedup.minhashPairsOPH(d, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.nonEmpty, "fixture corpus must contain near-dups")
    val recall = mh.intersect(oph).size.toDouble / mh.size
    assert(recall >= 0.8,
      s"OPH candidate recall $recall below the 0.8 gauge on ${mh.size} pairs")
    graft.util.Caches.unpersistAll()
  }

  test("simhash: identical docs share fingerprints; hamming pairs found via bands") {
    val fp = Dedup.simhashFingerprints(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L), "equal text, equal simhash")
    assert(fp(0L) != fp(3L), "different text, different simhash")
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
  }

  test("simhash oversized-bucket splitter is recall-lossless") {
    // maxBucket = 1 forces EVERY bucket through the re-banding path; the
    // pigeonhole guarantee must yield the identical pair set.
    val direct = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val split = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3,
        maxBucket = 1)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(direct == split, s"split path changed results: $direct vs $split")
    assert(direct.nonEmpty)
  }

  test("ngram jaccard pairs respect blocking and threshold") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        blockCols = Seq("lang"), threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 4L), "cross-language blocked")
  }

  test("connected components label transitive duplicate clusters by min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components converge on a chain far longer than maxIter allows one-hop") {
    // 60-vertex path ordered worst-case (descending), maxIter 8:
    // requires the pointer-jumping O(log n) convergence
    val chain = (1 to 59).map(i => (60L - i, 61L - i)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(chain, maxIter = 8)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 60 && comps.values.forall(_ == 1L),
      s"all chain members labeled 1, got ${comps.toSeq.sortBy(_._1).take(8)}...")
  }

  test("ccApply keeps exactly one representative (the min id) per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
    val df = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.ccApply(df, comps, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // clusters {1,2,3} -> keep 1; {7,9} -> keep 7; singletons untouched
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 8L, 10L))
  }

  test("keepBest keeps the highest-score member per cluster, min id on ties") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs)
    // scores: cluster {1,2,3} -> 3 wins on score; {7,9} -> tie, 7 wins on id
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 1L), (7L, 5L),
      (9L, 5L)).toDF("doc_id", "score")
    val kept = Dedup.keepBest(df, comps, "doc_id", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 7L))
    // equals the global-window form on the coalesced cluster label
    val labeled = df.join(
      comps.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .withColumn("c", coalesce(col("component"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c").orderBy(col("score").desc, col("doc_id").asc)
    val oracle = labeled.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).select("doc_id", "score")
    assert(datasetEquality(oracle, Dedup.keepBest(df, comps, "doc_id", "score")))
  }

  test("connected components with a reliable checkpoint dir agree with local mode") {
    // Labels must not depend on execution settings: the full product of
    // session shuffle partitions {1, 7}, session AQE on/off,
    // fixpoint.rowsPerPartition 1 vs default and a local vs reliable
    // checkpoint, on the cluster fixture and the long chain (maxIter 8).
    // The session's AQE and partition settings must come back unchanged.
    import scala.jdk.CollectionConverters._
    val clusters = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusterLabels =
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    val chain = (1 to 59).map(i => (60L - i, 61L - i)).toDF("doc_a", "doc_b")
    val chainLabels = (1L to 60L).map(_ -> 1L).toMap
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val rowsKey = "spark.graft.fixpoint.rowsPerPartition"
    def walk(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val w = java.nio.file.Files.walk(dir)
      try w.iterator.asScala.toSeq finally w.close()
    }
    def list(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val l = java.nio.file.Files.list(dir)
      try l.iterator.asScala.toSeq finally l.close()
    }
    try for {
      parts <- Seq("1", "7")
      aqe <- Seq("true", "false")
      rows <- Seq(Some("1"), None)
      reliable <- Seq(false, true)
      (pairs, maxIter, want) <- Seq((clusters, 25, clusterLabels),
        (chain, 8, chainLabels))
    } {
      val setting = s"partitions=$parts aqe=$aqe rowsPerPartition=$rows " +
        s"reliable=$reliable maxIter=$maxIter"
      spark.conf.set(partsKey, parts)
      spark.conf.set(aqeKey, aqe)
      rows.fold(spark.conf.unset(rowsKey))(spark.conf.set(rowsKey, _))
      val tmp = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
      try {
        val comps = Dedup.connectedComponents(pairs, maxIter = maxIter,
            checkpointDir = if (reliable) Some(tmp.toString) else None)
          .as[(Long, Long)].collect().toMap
        assert(comps == want, s"labels differ under $setting")
        assert(spark.conf.get(aqeKey) == aqe, s"AQE leaked under $setting")
        assert(spark.conf.get(partsKey) == parts,
          s"shuffle partitions leaked under $setting")
        assert(spark.conf.getOption(rowsKey) == rows)
        if (reliable) {
          // reliable mode actually wrote checkpoint data there...
          assert(walk(tmp).size > 1, s"no checkpoint files written ($setting)")
          // ...and cleaned up after itself: earlier rounds' rdd-* dirs are
          // deleted as the loop advances, so only the returned fixpoint's
          // checkpoint survives the run (not one copy per round).
          val uuidDir = list(tmp)
          assert(uuidDir.size == 1,
            s"expected one UUID checkpoint subdir, got $uuidDir ($setting)")
          val rdds = list(uuidDir.head).map(_.getFileName.toString)
          assert(rdds.count(_.startsWith("rdd-")) == 1,
            s"stale per-round checkpoints not reclaimed: $rdds ($setting)")
        }
      } finally walk(tmp).reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    } finally {
      spark.conf.set(partsKey, "4")
      spark.conf.set(aqeKey, "true")
      spark.conf.unset(rowsKey)
    }
  }

  test("repartition matrix maps to the right partitioning") {
    val df = spark.read.parquet(s"$sf001/nation.parquet")
    assert(Repartition(df, None, Nil) eq df)
    assert(Repartition(df, Some(5), Nil).rdd.getNumPartitions == 5)
    assert(Repartition(df, Some(3), Seq("n_regionkey")).rdd.getNumPartitions == 3)
    // cols-only form: hash partitioning with no fixed N — AQE is free to
    // coalesce the shuffle, so assert the plan shape, not a partition count
    val plan = Repartition(df, None, Seq("n_regionkey")).queryExecution.analyzed
    val rep = plan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(rep.nonEmpty && rep.head.optNumPartitions.isEmpty)
  }

  test("passage dedup drops repeated windows, keeps first occurrence, reassembles") {
    import spark.implicits._
    // window=2: doc 1 = [a b][c d], doc 2 = [a b][x y] -> doc 2 loses "a b"
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b")       // every passage repeated -> doc disappears
    ).toDF("doc_id", "text")
    val out = Dedup.passages(df, "doc_id", "text", window = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L).getAs[String]("clean_text") == "a b c d")
    assert(out(1L).getAs[Long]("n_chunks") == 2L)
    assert(out(1L).getAs[Long]("n_kept") == 2L)
    assert(out(2L).getAs[String]("clean_text") == "x y")
    assert(out(2L).getAs[Long]("n_kept") == 1L)
  }

  test("edit-distance pairs: blocked, threshold-bounded, cross-band pairs found") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox", "en"),   // len 19, band 1 (bw 10)
      (2L, "the quick brown fix", "en"),   // dist 1 to doc 1
      (3L, "the quick brown foxes", "en"), // len 21 band 2: adjacent band, dist 2 to doc 1
      (4L, "completely different text here", "en"), // too far from all
      (5L, "the quick brown fox", "de")    // same text, other block
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.editDistancePairs(df, "doc_id", "text", Seq("lang"),
        maxDist = 3, bucketWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pair (1,3) crosses a length-band boundary and must still be found
    assert(out == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 3L)))
  }

  test("edit-distance pairs: oversized blocks are dropped, not exploded") {
    import spark.implicits._
    val big = (1L to 10L).map(i => (i, "same text", "en"))
    val df = (big :+ ((99L, "tiny", "de"))).toDF("doc_id", "text", "lang")
    val out = Dedup.editDistancePairs(df, "doc_id", "text", Seq("lang"),
      maxDist = 3, bucketWidth = 10, maxBlock = 5)
    assert(out.count() == 0L)
  }

  test("edit-distance pairs rejects bucketWidth <= maxDist") {
    import spark.implicits._
    val df = Seq((1L, "x", "en")).toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "doc_id", "text", Seq("lang"),
        maxDist = 10, bucketWidth = 10)
    }
  }

  test("prefix-filter pairs == brute-force threshold pairs (exact recall)") {
    import spark.implicits._
    import graft.functions.{TextFunctions => T}
    // varied texts with planted near-dup clusters and unrelated docs
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta thetas",
      "alpha beta gamma delta epsilon zeta", // partial overlap
      "one two three four five six seven eight nine",
      "one two three four five six seven eight nine ten",
      "completely different material unrelated to any other entry here",
      "short", "shorts")
    val df = base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = Dedup.prefixJaccardPairs(df, "doc_id", "text",
        n = 4, sampleMod = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same shingle sets: every pair >= t must appear
    val sh = df.select($"doc_id",
      T.hashedCharNgrams($"text", 4, 1).as("sh"))
    val brute = sh.as("x").crossJoin(sh.as("y"))
      .where($"x.doc_id" < $"y.doc_id")
      .where(round(T.jaccard($"x.sh", $"y.sh"), 6) >= 0.5)
      .select($"x.doc_id", $"y.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == brute, s"prefix=$out brute=$brute")
    assert(brute.nonEmpty, "fixture must contain at least one true pair")
  }

  test("jaroWinkler kernel matches DuckDB/rapidfuzz reference values") {
    import graft.functions.ExprKernels
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      ExprKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
    // values probed from DuckDB jaro_winkler_similarity (rapidfuzz port)
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.8400000000000001),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("a", "b", 0.0),
      ("crate", "trace", 0.7333333333333334),
      ("spark", "sprak", 0.9466666666666665),
      // boost threshold: jaro <= 0.7 gets NO prefix premium
      ("aqwert", "azxcvb", 0.4444444444444444),
      ("abcdef", "abzzzz", 0.5555555555555555),
      // prefix capped at 4 even when 6 chars are shared
      ("prefixab", "prefixcd", 0.9))
    for ((a, b, want) <- cases)
      assert(jw(a, b) == want, s"jw($a,$b) = ${jw(a, b)}, want $want")
  }

  test("jaroWinkler pairs: blocked, threshold-bounded, symmetric-free") {
    import spark.implicits._
    val df = Seq(
      (1L, "jonathan smith", "en"),
      (2L, "jonathon smith", "en"),  // high-JW variant of 1
      (3L, "jonathan smythe", "en"), // variant of 1, lower
      (4L, "entirely other", "en"),
      (5L, "jonathan smith", "de")   // other block: never paired with 1
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.jaroWinklerPairs(df, "doc_id", "text", Seq("lang"),
        minSim = 0.9, bucketWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall(p => p._1 < p._2 && p._3 >= 0.9))
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    intercept[IllegalArgumentException] {
      Dedup.jaroWinklerPairs(df, "doc_id", "text", Seq("lang"), minSim = 0.5)
    }
  }

  test("knnJaccard: symmetric neighbors, ranked by jaccard, capped at k") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"),  // nearest to 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven")          // isolated
    ).toDF("doc_id", "text")
    val out = Dedup.knnJaccard(df, "doc_id", "text", k = 1)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // symmetry of the candidate graph: both directions materialize
    assert(out.contains(1L) && out.contains(2L) && out.contains(3L))
    // 2 is 1's nearest (4/5 shingle overlap beats 3's)
    assert(out(1L)._1 == 2L)
    // the isolated doc shares no LSH bucket: no fabricated neighbor
    assert(!out.contains(4L), "doc 4 must have no neighbors")
    graft.util.Caches.unpersistAll()
  }

  test("containmentPairs: full subset gives cont_a=1.0, Jaccard would dilute") {
    // doc 1's shingle set is a strict subset of doc 2's (same prefix text);
    // doc 3 is unrelated and must never pair
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    // 2 extra words: |A∩B|/|B| = 6/8 — high enough for the Jaccard-tuned
    // banding to bucket the pair, low enough that Jaccard@0.9 misses it
    val big = small + " iota kappa"
    val df = Seq(
      (1L, small), (2L, big), (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    val (_, _, contA, contB) = out.head
    assert(contA == 1.0, s"subset containment must be exactly 1.0, got $contA")
    assert(contB == 0.75, s"mirror direction must be 6/8 = 0.75, got $contB")
    // jaccard == cont_b here (|A∩B| = |A|), so a symmetric-Jaccard pass at
    // the same threshold would MISS this pair — the reason the op exists
    assert(Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.9).isEmpty)
    graft.util.Caches.unpersistAll()
  }

  test("containmentPairsStratified recalls the size-skew pairs the " +
      "Jaccard-tuned banding provably misses") {
    // the gate fixture at sf0.001: every 40th long doc gains a 5-word
    // PREFIX twin (cont ~ 1, Jaccard ~ 3/|source| ~ 0.08 — far below the
    // (1/16)^(1/4) = 0.5 S-curve midpoint of the standard banding)
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val skew = d.select($"doc_id", $"text")
      .unionAll(d.where($"doc_id" % 40 === 0 &&
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split($"text", " ")) >= 40)
        .select(($"doc_id" + 100000L).as("doc_id"),
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.slice(
              org.apache.spark.sql.functions.split($"text", " "), 1, 5),
            " ").as("text")))
    val nDerived = skew.where($"doc_id" >= 100000L).count()
    assert(nDerived > 0, "fixture must contain derived prefix docs")
    def prefixPairs(out: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      out.where($"doc_b" >= 100000L && $"doc_a" === $"doc_b" - 100000L)
        .as[(Long, Long, Double, Double)].collect()
        .map(p => (p._1, p._2)).toSet
    val plain = prefixPairs(
      Dedup.containmentPairs(skew, "doc_id", "text", threshold = 0.7))
    val strat = prefixPairs(
      Dedup.containmentPairsStratified(skew, "doc_id", "text",
        threshold = 0.7))
    // stratified banding recalls EVERY prefix-in-source pair...
    assert(strat.size == nDerived,
      s"stratified recalled ${strat.size} of $nDerived prefix pairs")
    // ...including at least one the Jaccard-tuned banding missed (the
    // recall hole LSH-Ensemble exists to close)
    assert((strat -- plain).nonEmpty,
      s"expected the plain banding to miss some prefix pair (plain=$plain)")
    // and the verified containment on those pairs is exact full-subset
    val contOfDerived = Dedup.containmentPairsStratified(skew, "doc_id",
        "text", threshold = 0.7)
      .where($"doc_b" >= 100000L && $"doc_a" === $"doc_b" - 100000L)
      .as[(Long, Long, Double, Double)].collect()
    contOfDerived.foreach { case (_, _, _, contB) =>
      assert(contB == 1.0, s"prefix shingles must be fully contained, got $contB")
    }
    graft.util.Caches.unpersistAll()
  }

  test("weightedJaccardPairs: hand-computed tf-weighted Jaccard, " +
      "reorder invariance, tf cap") {
    // docs 1 and 2: same multiset {a:2, b:1, c:1} in different order ->
    // weighted Jaccard 1.0 (shingle Jaccard would see disjoint 3-grams);
    // doc 3: {a:1, b:1, d:2} -> J_w(1,3) = (1+1)/(2+1+1+2) = 1/3
    val df = Seq(
      (1L, "a a b c"),
      (2L, "c a b a"),
      (3L, "a b d d")
    ).toDF("doc_id", "text")
    val out = Dedup.weightedJaccardPairs(df, "doc_id", "text",
        threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(out((1L, 2L)) == 1.0, s"reordered multiset twins: ${out((1L, 2L))}")
    assert(out((1L, 3L)) == 0.333333)
    // tf cap: "x"*10 vs "x"*20 under maxTf=4 both cap to {x:4} -> 1.0
    val capped = Seq(
      (1L, Seq.fill(10)("x").mkString(" ")),
      (2L, Seq.fill(20)("x").mkString(" "))
    ).toDF("doc_id", "text")
    val c = Dedup.weightedJaccardPairs(capped, "doc_id", "text",
        threshold = 0.0, maxTf = 4)
      .as[(Long, Long, Double)].collect()
    assert(c.toSeq == Seq((1L, 2L, 1.0)))
    graft.util.Caches.unpersistAll()
  }

  test("minhashIncrementalPairs: cross-side only, twins found, batch dups not") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val seen = Seq((1L, t1), (2L, "totally different words here entirely"))
      .toDF("doc_id", "text")
    // 10 is a twin of SEEN doc 1; 11 and 12 are twins of each other but
    // of nothing in seen — a batch-internal dup the incremental op must
    // NOT report (the batch self-join is a separate, pre-ingest pass)
    val nw = Seq((10L, t1), (11L, t2), (12L, t2)).toDF("doc_id", "text")
    val out = Dedup.minhashIncrementalPairs(nw, seen, "doc_id", "text",
      threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 1L, 1.0)), s"got ${out.toSeq}")
    graft.util.Caches.unpersistAll()
  }

  test("clusterStats: size histogram + singleton mass, shares sum to 1") {
    val docs10 = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // components: {1,2} and {3,4,5}; docs 6..10 are singletons
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L))
      .toDF("doc_id", "component")
    val out = Dedup.clusterStats(docs10, comps).collect()
    val bySize = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(bySize(1L) == ((5L, 5L, 0.5)))
    assert(bySize(2L) == ((1L, 2L, 0.2)))
    assert(bySize(3L) == ((1L, 3L, 0.3)))
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    // fully-clustered corpus: no singleton row
    val all = Dedup.clusterStats(docs10.where(col("doc_id") <= 5),
      comps).collect()
    assert(!all.map(_.getLong(0)).contains(1L))
    // a components table larger than the corpus is stale/mismatched
    // — refused loudly, never a silent >1 doc_share
    val mismatched = intercept[IllegalArgumentException] {
      Dedup.clusterStats(docs10.where(col("doc_id") <= 2), comps)
    }
    assert(mismatched.getMessage.contains("mismatched"))
    graft.util.Caches.unpersistAll()
  }
}
