package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Multi-dimensional data layout (Z-ordering).
  *
  * A 100 TB table is pruned, not scanned: engines skip whole files/row
  * groups whose min-max ranges exclude the predicate. A single-column
  * sort gives perfect ranges on one key and useless ones on every other;
  * interleaving the bits of k keys (the Morton / Z-order curve, Morton
  * 1966 — the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`,
  * which accepts N columns) makes rows close in ANY key land in the same
  * blocks, so min-max pruning works for all of them. This operator
  * computes the curve position, range-sorts by it (Spark's global sort =
  * one range-partitioned shuffle, no driver involvement), carves blocks
  * of `blockSize` rows, and emits the per-block min-max manifest —
  * exactly the statistics a scan planner consults, so the manifest
  * doubles as a direct measure of pruning power (tight, non-overlapping
  * ranges in EVERY dimension).
  */
object Layout {

  /** Morton interleave of the low `bits` bits of k NON-NEGATIVE integer
    * columns: column j's bit b lands at position k*b + j. A pure
    * k·`bits`-term integer expression — codegen'd, narrow, and replayable
    * verbatim in any SQL engine (no loops, no UDF).
    *
    * Domain contract: callers map keys into [0, 2^bits) first (`pmod`,
    * bucketing, or epoch-offsetting a timestamp). Values outside still
    * produce deterministic z-values (engines shift/mask longs
    * identically), but high bits are silently IGNORED, so two far-apart
    * keys can collide onto one curve position and the min-max manifest
    * loses its pruning tightness — the layout degrades, never corrupts.
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, s"need >= 2 columns to interleave, got $k")
    require(bits >= 1 && k * bits <= 62,
      s"need bits >= 1 and k*bits <= 62 (positive-long positions), got k=$k bits=$bits")
    val longs = cols.map(_.cast("long"))
    (for {
      b <- 0 until bits
      (c, j) <- longs.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(1L), k * b + j): Column)
      .reduce(_ + _)
  }

  /** Two-column Morton interleave: x's bit b at position 2b, y's at
    * 2b+1 — [[zValueN]] with k=2, kept as the common-case entry point.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    zValueN(Seq(x, y), bits)
  }

  /** 2-D Hilbert curve position on a 2^bits grid
    * ([[graft.functions.Expressions.HilbertIndex]], a native codegen'd
    * loop). Hilbert beats Morton on locality — successive curve positions
    * are always UNIT grid steps, no bit-carry teleports — which is why
    * clustering engines moved to it (Databricks liquid clustering); the
    * measured effect here is strictly tighter per-block min-max boxes at
    * equal block size ([[hilbertManifest]] vs [[zorderManifest]],
    * quantified in LayoutSpec). Inputs are masked to the low `bits` bits
    * (the [[zValueN]] silent-degrade domain contract).
    */
  def hilbertValue(x: Column, y: Column, bits: Int = 16): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Expressions.HilbertIndex(
        org.apache.spark.sql.GraftColumnBridge.expression(x.cast("long")),
        org.apache.spark.sql.GraftColumnBridge.expression(y.cast("long")),
        bits))

  /** [[zorderManifest]] with the Hilbert curve as the sort key: same
    * one-shuffle range sort, same block carve, same min-max manifest —
    * only the space-filling curve differs.
    */
  def hilbertManifest(df: DataFrame, xCol: String, yCol: String,
      idCol: String, blockSize: Long, bits: Int = 16): DataFrame =
    manifestOf(
      blockAssignedCurve(asXY(df, xCol, yCol, idCol), Seq("x", "y"), "id",
        blockSize, cs => hilbertValue(col(cs(0)), col(cs(1)), bits)),
      Seq("x", "y"))

  /** N-dimensional Hilbert curve position (Skilling's transpose,
    * [[graft.functions.Expressions.HilbertIndexN]]) — the k>=3 layout
    * key multi-dimension clustering needs; a different (equally valid)
    * orientation than the 2-D [[hilbertValue]] walk.
    */
  def hilbertValueN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, s"need >= 2 columns, got $k")
    require(bits >= 1 && k * bits <= 62,
      s"need bits >= 1 and k*bits <= 62, got k=$k bits=$bits")
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Expressions.HilbertIndexN(
        org.apache.spark.sql.GraftColumnBridge.expression(
          array(cols.map(_.cast("long")): _*)),
        bits))
  }

  /** [[zorderManifestN]] with the N-D Hilbert curve as the sort key. */
  def hilbertManifestN(df: DataFrame, cols: Seq[String], idCol: String,
      blockSize: Long, bits: Int = 16): DataFrame =
    manifestOf(
      blockAssignedCurve(df, cols, idCol, blockSize,
        cs => hilbertValueN(cs.map(col), bits)),
      cols)

  /** Z-order `df` by `cols` and return the block manifest: one row per
    * `blockSize`-row block with n_rows and min/max of every dimension
    * (columns `min_<c>` / `max_<c>` in `cols` order). `idCol` breaks
    * z-value ties so the layout is total and reproducible.
    *
    * Plan shape: one narrow projection (the z expression), ONE
    * range-partitioned sort shuffle (`repartitionByRange` +
    * `sortWithinPartitions` — Spark's global sort, no driver
    * involvement), then global row positions via per-partition count
    * offsets (one count per PARTITION to the driver — the
    * [[Sampling.shardByBudget]] pattern, bounded by partition count,
    * never data size), then a block-keyed aggregation. At production
    * scale the sorted writer emits the data files and this manifest
    * becomes the skipping index a scan planner consults.
    */
  def zorderManifestN(df: DataFrame, cols: Seq[String], idCol: String,
      blockSize: Long, bits: Int = 16): DataFrame =
    manifestOf(blockAssignedN(df, cols, idCol, blockSize, bits), cols)

  /** Two-dimensional [[zorderManifestN]] (columns surfaced as x/y). */
  def zorderManifest(df: DataFrame, xCol: String, yCol: String,
      idCol: String, blockSize: Long, bits: Int = 16): DataFrame =
    zorderManifestN(asXY(df, xCol, yCol, idCol), Seq("x", "y"), "id",
      blockSize, bits)

  private def asXY(df: DataFrame, xCol: String, yCol: String,
      idCol: String): DataFrame =
    df.select(col(xCol).as("x"), col(yCol).as("y"), col(idCol).as("id"))

  private def manifestOf(assigned: DataFrame, cols: Seq[String]): DataFrame =
    assigned.groupBy("block_id")
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c =>
          Seq(min(c).as(s"min_$c"), max(c).as(s"max_$c"))): _*)

  /** (block_id, cols..., id) for every input row under the Z-order
    * layout — shared by the manifest aggregation and the partitioned
    * writer.
    */
  private def blockAssignedN(df: DataFrame, cols: Seq[String], idCol: String,
      blockSize: Long, bits: Int): DataFrame =
    blockAssignedCurve(df, cols, idCol, blockSize,
      cs => zValueN(cs.map(col), bits))

  /** [[blockAssignedN]] with a pluggable space-filling-curve expression
    * (`curveOf(cols)` → the sort key) — shared by the Z-order (Morton)
    * and Hilbert layouts; the sort/offset/carve machinery is identical.
    */
  private def blockAssignedCurve(df: DataFrame, cols: Seq[String],
      idCol: String, blockSize: Long,
      curveOf: Seq[String] => Column): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    val k = cols.size
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    // persisted: the offset pass and the assignment pass must read the
    // SAME materialized partitions (range boundaries are sampled)
    val sorted = graft.util.Caches.persist(
      df.select(cols.map(c => col(c).cast("long").as(c)) :+
          col(idCol).cast("long").as("__zid"): _*)
        .withColumn("z", curveOf(cols))
        .repartitionByRange(n, col("z"), col("__zid"))
        .sortWithinPartitions("z", "__zid"))
    val nParts = sorted.rdd.getNumPartitions
    val counts: Array[(Int, Long)] = sorted
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        Iterator.single((pid, rows.size.toLong))
      }(Encoders.product[(Int, Long)])
      .collect()
    val offsets = new Array[Long](nParts)
    counts.foreach { case (pid, c) => if (pid + 1 < nParts) offsets(pid + 1) = c }
    for (i <- 1 until nParts) offsets(i) += offsets(i - 1)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = StructType(
      StructField("block_id", LongType, nullable = false) +:
        cols.map(StructField(_, LongType)) :+ StructField("id", LongType))
    sorted.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var rn = bOffsets.value(pid)
      rows.map { r =>
        val block = rn / blockSize
        rn += 1
        Row.fromSeq(block +: (0 to k).map(r.getLong(_)))
      }
    }(Encoders.row(outSchema))
  }

  /** Materialize the Z-order layout as a SKIPPING INDEX: the data lands
    * under `outDir/data` partitioned by block_id (so a block predicate is
    * a directory-level PartitionFilter — zero footer reads for pruned
    * blocks), and the per-block min-max manifest lands under
    * `outDir/manifest`. Returns the manifest.
    *
    * Replacing a layout is DESTRUCTIVE (mode Overwrite on both data and
    * manifest), so it sits behind the same latch as every other
    * destructive write in the engine: callers must pass
    * `confirm.truncate=true` in `options`
    * (ref: CassandraLoadSuite.scala:104 — DataStax connector semantics).
    *
    * This is the mechanic behind Delta/Iceberg `OPTIMIZE ZORDER BY` +
    * data skipping, expressed with plain parquet: at 100 TB the manifest
    * is rows/blockSize tiny rows, and [[prunedRead]] consults it instead
    * of the data.
    */
  def zorderWriteN(df: DataFrame, cols: Seq[String], idCol: String,
      outDir: String, blockSize: Long, bits: Int = 16,
      options: Map[String, String] = Map.empty): DataFrame =
    writeCurve(df, cols, idCol, outDir, blockSize, options,
      cs => zValueN(cs.map(col), bits), "zorderWrite")

  /** [[zorderWriteN]] with the Hilbert curve as the sort key — the data
    * and the min-max manifest land in the same skipping-index shape, so
    * [[prunedReadN]] serves either layout unchanged (block_id + min-max
    * are curve-agnostic); Hilbert's tighter boxes just skip more.
    */
  def hilbertWrite(df: DataFrame, xCol: String, yCol: String, idCol: String,
      outDir: String, blockSize: Long, bits: Int = 16,
      options: Map[String, String] = Map.empty): DataFrame =
    writeCurve(asXY(df, xCol, yCol, idCol), Seq("x", "y"), "id", outDir,
      blockSize, options,
      cs => hilbertValue(col(cs(0)), col(cs(1)), bits), "hilbertWrite")

  private def writeCurve(df: DataFrame, cols: Seq[String], idCol: String,
      outDir: String, blockSize: Long, options: Map[String, String],
      curveOf: Seq[String] => Column, what: String): DataFrame = {
    if (!options.get("confirm.truncate").exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        what + " overwrites the layout under " + outDir +
          ": pass confirm.truncate=true (destructive-write latch)")
    val assigned = blockAssignedCurve(df, cols, idCol, blockSize, curveOf)
    assigned.write.partitionBy("block_id").mode("overwrite")
      .parquet(s"$outDir/data")
    val manifest = manifestOf(assigned, cols)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
    df.sparkSession.read.parquet(s"$outDir/manifest")
  }

  /** Two-dimensional [[zorderWriteN]] (columns surfaced as x/y). */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, idCol: String,
      outDir: String, blockSize: Long, bits: Int = 16,
      options: Map[String, String] = Map.empty): DataFrame =
    zorderWriteN(asXY(df, xCol, yCol, idCol), Seq("x", "y"), "id", outDir,
      blockSize, bits, options)

  /** Range query over a [[zorderWriteN]] layout, manifest-pruned: blocks
    * whose min-max box misses the query box (`ranges` = (col, lo, hi)
    * per dimension, a subset of the layout's columns) are skipped at the
    * DIRECTORY level, the row-level range predicate then runs only
    * inside surviving blocks. Output: the ranged columns then `id`, in
    * layout order.
    *
    * The surviving blocks reach the scan as a broadcast semi-join of the
    * pruned manifest on `block_id` — Spark's dynamic partition pruning
    * turns the broadcast into a directory-level PartitionFilter
    * (asserted in LayoutSpec), so NOTHING about the block list ever
    * lands in the plan or on the driver: at 100 TB with small blocks a
    * collected `isin` literal list would be millions of entries of plan
    * bloat, while the manifest-side broadcast stays one small table.
    * Because min-max pruning is conservative, the result is IDENTICAL to
    * filtering the raw table — the gate asserts exactly that
    * equivalence.
    */
  def prunedReadN(spark: SparkSession, outDir: String,
      ranges: Seq[(String, Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "need at least one range")
    ranges.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"empty range on $c: [$lo, $hi]")
    }
    val blockCond = ranges.map { case (c, lo, hi) =>
      col(s"min_$c") <= hi && col(s"max_$c") >= lo
    }.reduce(_ && _)
    val keep = spark.read.parquet(s"$outDir/manifest")
      .where(blockCond).select("block_id")
    val rowCond = ranges.map { case (c, lo, hi) =>
      col(c).between(lo, hi)
    }.reduce(_ && _)
    spark.read.parquet(s"$outDir/data")
      .join(broadcast(keep), Seq("block_id"), "left_semi")
      .where(rowCond)
      .select(ranges.map(r => col(r._1)) :+ col("id"): _*)
  }

  /** Two-dimensional [[prunedReadN]] over an x/y layout. */
  def prunedRead(spark: SparkSession, outDir: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame =
    prunedReadN(spark, outDir, Seq(("x", xLo, xHi), ("y", yLo, yHi)))

  /** Bloom-filter block skipping beside the min-max manifest — the
    * second statistics tier Delta/Iceberg/parquet attach per file. A
    * space-filling-curve layout gives tight min-max boxes on the CURVE
    * dimensions and useless ones on everything else (`id` in particular:
    * the curve scatters ids across every block, so every block's id
    * range covers the probe). Equality lookups on such a column need a
    * membership sketch per block: this writes one under
    * `outDir/bloom_<keyCol>`, in LONG format (block_id, w, bits, m, k) —
    * one row per NON-ZERO 64-bit word per block. The (m, k) parameters
    * ride as columns of the SAME table (RLE-compressed to nothing) so
    * the publish is one atomic directory overwrite: a probe can never
    * pair new bits with old parameters, which a separate meta table
    * racing a rebuild with different mBits/k could — and a mismatched
    * (m, k) means bloom FALSE NEGATIVES, i.e. silently dropped rows.
    * [[bloomRead]] validates (m, k) uniqueness at probe time.
    *
    * Shape at scale: one scan of the layout data into a map-side-
    * combined `bit_or` per (block, word); the manifest is
    * blocks × set-words tiny rows, fully distributed (nothing collects —
    * unlike the driver-held [[graft.functions.Sketches.bloomBitmap]],
    * this sketch lives beside the data it indexes). Overwrites the
    * bloom directory, so it sits behind the engine's destructive-write
    * latch.
    */
  /** The per-(block, word) bloom bit rows for a layout data frame —
    * shared by [[bloomAugment]] (full build) and [[targetedDelete]]
    * (rebuild of rewritten blocks only), so there is exactly ONE
    * hashing codepath.
    */
  private def bloomRowsOf(data: DataFrame, keyCol: String, m: Long,
      k: Int): DataFrame =
    data
      .select(col("block_id"), col(keyCol).cast("string").as("__v"))
      .where(col("__v").isNotNull)
      .select(col("block_id"), explode(array((0 until k).map(i =>
        pmod(xxhash64(col("__v"), lit(i)), lit(m))): _*)).as("__h"))
      .select(col("block_id"), expr("__h div 64").as("w"),
        expr("shiftleft(1L, cast(__h % 64 AS INT))").as("__m"))
      .groupBy("block_id", "w").agg(expr("bit_or(__m)").as("bits"))
      .select(col("block_id"), col("w"), col("bits"),
        lit(m).as("m"), lit(k).as("k"))

  def bloomAugment(spark: SparkSession, outDir: String, keyCol: String,
      mBits: Int = 4096, k: Int = 5,
      options: Map[String, String] = Map.empty): DataFrame = {
    require(mBits >= 64, s"mBits must be >= 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")
    if (!options.get("confirm.truncate").exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        s"bloomAugment overwrites the bloom manifest under $outDir: " +
          "pass confirm.truncate=true (destructive-write latch)")
    val m = ((mBits + 63) / 64) * 64
    val data = spark.read.parquet(s"$outDir/data")
    val blooms = bloomRowsOf(data, keyCol, m.toLong, k)
    blooms.write.mode("overwrite").parquet(s"$outDir/bloom_$keyCol")
    // pre-r13 publishes kept (m, k) in a separate bloom_<keyCol>_meta
    // table; republishing under the current single-table layout must
    // remove it, or a stale meta directory lies around describing
    // parameters the bits no longer use
    val metaPath = new org.apache.hadoop.fs.Path(s"$outDir/bloom_${keyCol}_meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(metaPath)) fs.delete(metaPath, true)
    spark.read.parquet(s"$outDir/bloom_$keyCol")
  }

  /** Point-lookup over a [[bloomAugment]]ed layout: for each probe
    * value, a block is a candidate iff ALL k probe bits are set in its
    * bloom words (no false negatives, so the trailing exact equality
    * filter makes the result IDENTICAL to filtering the raw table —
    * false positives only admit extra blocks, never extra rows).
    *
    * The probe side is values×k tiny rows built in-plan (same xxhash64
    * expression as the build — one hashing codepath, no driver-side
    * reimplementation); it joins the bloom manifest on the word index,
    * surviving blocks reach the data scan as a broadcast semi-join on
    * `block_id` → dynamic partition pruning turns it into a
    * directory-level PartitionFilter, the [[prunedReadN]] contract.
    * Output: the layout's stored columns for the matching rows.
    */
  def bloomRead(spark: SparkSession, outDir: String, keyCol: String,
      values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "need at least one probe value")
    import spark.implicits._
    val bloom = spark.read.parquet(s"$outDir/bloom_$keyCol")
    // (m, k) ride as columns of the bits table (atomic with the bits —
    // see bloomAugment); a mixed-parameter table is a corrupt publish
    // and probing it risks false NEGATIVES, so fail loudly.
    // A bits table WITHOUT m/k columns is a pre-r13 publish (parameters
    // lived in a separate bloom_<keyCol>_meta table) — name the fix
    // instead of surfacing a missing-column AnalysisException.
    if (!bloom.columns.contains("m") || !bloom.columns.contains("k"))
      throw new IllegalStateException(
        s"bloom table $outDir/bloom_$keyCol uses the legacy layout " +
          "(no m/k columns — parameters in a separate _meta table); " +
          "re-run bloomAugment to republish it in the current format")
    val metas = bloom.select("m", "k").distinct().limit(3).collect()
    require(metas.length == 1,
      s"bloom table $outDir/bloom_$keyCol has ${metas.length} distinct " +
        "(m, k) parameter pairs; expected exactly 1 — rebuild it")
    val (m, k) = (metas.head.getAs[Long]("m"), metas.head.getAs[Int]("k"))
    val probes = values.distinct.toDF("__v")
      .select(col("__v"), posexplode(array((0 until k).map(i =>
        pmod(xxhash64(col("__v"), lit(i)), lit(m))): _*))
        .as(Seq("__i", "__h")))
      .select(col("__v"), col("__i"), expr("__h div 64").as("w"),
        expr("shiftleft(1L, cast(__h % 64 AS INT))").as("__m"))
    val keep = bloom
      .join(broadcast(probes), "w")
      .where(col("bits").bitwiseAND(col("__m")) =!= 0L)
      .groupBy(col("block_id"), col("__v"))
      .agg(count_distinct(col("__i")).as("__hits"))
      .where(col("__hits") === k)
      .select("block_id").distinct()
    val data = spark.read.parquet(s"$outDir/data")
    data
      .join(broadcast(keep), Seq("block_id"), "left_semi")
      .where(col(keyCol).cast("string").isin(values: _*))
      .select(data.columns.filterNot(_ == "block_id").map(col): _*)
  }

  /** Targeted delete (right-to-be-forgotten) over a curve layout: remove
    * every row whose `keyCol` is in `values` from `outDir`'s data AND
    * its derived statistics — by MANIFEST-PRUNED REWRITE, not a
    * full-corpus anti-join. Block selection stacks the store's
    * statistics tiers exactly like the read path: min-max (when the
    * manifest carries the key column) ∩ bloom sidecar (when
    * `bloom_<keyCol>` exists); with neither tier the delete warns
    * loudly and rewrites everything (the layout owner forgot to index
    * the deletion key). A block the statistics admit but that holds NO
    * target row (bloom false positive / min-max overlap) is left
    * untouched — only blocks with actual hits are rewritten, so at
    * 100 TB a k-id delete rewrites O(k) blocks and every other block's
    * files stay BYTE-IDENTICAL (asserted in LayoutSpec).
    *
    * Rewrite mechanics: surviving rows of hit blocks land in a scratch
    * directory first (Spark refuses to overwrite a path it reads), then
    * each hit block's directory is swapped via delete+rename; blocks
    * emptied entirely are removed. The bloom sidecar rows of rewritten
    * blocks are rebuilt under the SAME (m, k) (one hashing codepath —
    * [[bloomRowsOf]]), and the min-max manifest is republished LAST
    * (the engine's metadata-last commit convention): a reader racing
    * the delete sees conservative statistics, never missing data.
    * Deletion is destructive, so it sits behind its own latch:
    * `confirm.delete=true`.
    *
    * `values` enters the plan as a literal IN over the key (the probe
    * sets real deletion requests carry — thousands, not millions); a
    * deletion FEED beyond plan-literal scale belongs in batched calls.
    *
    * Returns one summary row: (n_blocks, n_candidate_blocks,
    * n_rewritten_blocks, n_emptied_blocks, n_rows_deleted).
    */
  def targetedDelete(spark: SparkSession, outDir: String, keyCol: String,
      values: Seq[Long], options: Map[String, String] = Map.empty): DataFrame =
    // AQE off: the delete is a chain of small statistics probes,
    // per-block actions and swap writes (see [[graft.util.Fixpoint]])
    graft.util.Fixpoint.scoped(spark) { loop =>
    val spark = loop.spark
    require(values.nonEmpty, "need at least one key value to delete")
    if (!options.get("confirm.delete").exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        s"targetedDelete rewrites data blocks under $outDir: pass " +
          "confirm.delete=true (destructive-write latch)")
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val dataDir = new org.apache.hadoop.fs.Path(s"$outDir/data")
    val fs = dataDir.getFileSystem(hconf)
    val manifest = spark.read.parquet(s"$outDir/manifest")
    val nBlocks = manifest.count()

    // statistics tier 1: manifest min-max, when it indexes the key
    val hasMinMax = manifest.columns.contains(s"min_$keyCol")
    val mmCand =
      if (hasMinMax)
        manifest.where(values.map(v =>
          lit(v) >= col(s"min_$keyCol") && lit(v) <= col(s"max_$keyCol"))
          .reduce(_ || _)).select("block_id")
      else manifest.select("block_id")

    // statistics tier 2: the bloom sidecar, when present (the bloomRead
    // probe shape — same xxhash64 expression as the build)
    val bloomPath = new org.apache.hadoop.fs.Path(s"$outDir/bloom_$keyCol")
    val hasBloom = fs.exists(bloomPath)
    // read + meta-probe ONCE: the candidate probe and the post-rewrite
    // sidecar rebuild both need the table and its (m, k); a second read
    // + distinct-collect bought nothing (round 20)
    val bloomDf =
      if (hasBloom) spark.read.parquet(bloomPath.toString) else null
    val bloomMK = if (hasBloom) {
      val metas = bloomDf.select("m", "k").distinct().limit(3).collect()
      require(metas.length == 1,
        s"bloom table $outDir/bloom_$keyCol has ${metas.length} distinct " +
          "(m, k) parameter pairs; expected exactly 1 — rebuild it")
      (metas.head.getAs[Long]("m"), metas.head.getAs[Int]("k"))
    } else null
    val candDf = if (hasBloom) {
      val bloom = bloomDf
      val (m, k) = bloomMK
      val probes = values.distinct.map(_.toString).toDF("__v")
        .select(col("__v"), posexplode(array((0 until k).map(i =>
          pmod(xxhash64(col("__v"), lit(i)), lit(m))): _*))
          .as(Seq("__i", "__h")))
        .select(col("__v"), col("__i"), expr("__h div 64").as("w"),
          expr("shiftleft(1L, cast(__h % 64 AS INT))").as("__m"))
      val admitted = bloom
        .join(broadcast(probes), "w")
        .where(col("bits").bitwiseAND(col("__m")) =!= 0L)
        .groupBy(col("block_id"), col("__v"))
        .agg(count_distinct(col("__i")).as("__hits"))
        .where(col("__hits") === k)
        .select("block_id").distinct()
      mmCand.join(admitted, Seq("block_id"), "left_semi")
    } else {
      if (!hasMinMax)
        System.err.println(s"targetedDelete: $outDir has neither a " +
          s"min-max manifest entry nor a bloom sidecar for '$keyCol' — " +
          "every block is a rewrite candidate (index the deletion key)")
      mmCand
    }
    val cand = candDf.collect().map(_.getLong(0)).sorted.toSeq

    // per-candidate-block hit counts: only blocks with ACTUAL hits are
    // rewritten; statistics false positives stay byte-identical.
    // The candidate blocks' rows are persisted ONCE with their delete
    // flag (round 19): the hit-count stats, the surviving-row rewrite
    // and both statistics rebuilds below all read this same slice, and
    // un-persisted each pass re-listed and re-scanned the whole
    // partitioned store (4 directory scans -> 1).
    val data = spark.read.parquet(s"$outDir/data")
    val hit = if (cand.isEmpty) null
      else graft.util.Caches.persist(
        data.where(col("block_id").isin(cand: _*))
          .withColumn("__del", col(keyCol).isin(values: _*)))
    // (partition-column inference may type block_id INT; the collected
    // ids are handled as LONG throughout, so cast at the aggregation)
    val stats = if (cand.isEmpty) Array.empty[Row] else hit
      .groupBy(col("block_id").cast("long").as("block_id"))
      .agg(sum(when(col("__del"), 1L).otherwise(0L))
        .as("n_del"), count(lit(1)).as("n_before"))
      .collect()
    val touched = stats.filter(_.getLong(1) > 0L)
    val touchedIds = touched.map(_.getLong(0)).sorted.toSeq
    val emptiedIds = touched.filter(r => r.getLong(1) == r.getLong(2))
      .map(_.getLong(0)).toSet
    val rewriteIds = touchedIds.filterNot(emptiedIds.contains)
    val nRowsDeleted = touched.map(_.getLong(1)).sum

    if (touchedIds.nonEmpty) {
      // surviving rows land in scratch first (Spark refuses a path that
      // is also being read), then per-block delete+rename swaps. The
      // survivors frame reads the CACHED candidate slice, and — because
      // the swap moves exactly these rows into place — it is also the
      // post-swap content of the rewritten blocks, so the statistics
      // rebuilds below reuse it instead of re-reading the store.
      val survivors = hit
        .where(col("block_id").isin(rewriteIds: _*) && !col("__del"))
        .drop("__del")
      val scratch = new org.apache.hadoop.fs.Path(
        s"$outDir/.delete_scratch")
      if (fs.exists(scratch)) fs.delete(scratch, true)
      if (rewriteIds.nonEmpty)
        // repartition on the partition column first: the cached slice's
        // partitioning interleaves blocks, so a direct partitionBy write
        // emits one file per (task, block) — tens of small files per
        // rewritten block; one exchange buys one file per block, which
        // both the swap renames and every later reader want
        survivors.repartition(col("block_id"))
          .write.partitionBy("block_id").mode("overwrite")
          .parquet(scratch.toString)
      touchedIds.foreach { b =>
        val dst = new org.apache.hadoop.fs.Path(s"$outDir/data/block_id=$b")
        fs.delete(dst, true)
        val src = new org.apache.hadoop.fs.Path(
          s"${scratch.toString}/block_id=$b")
        if (fs.exists(src)) fs.rename(src, dst)
      }
      fs.delete(scratch, true)

      // derived stores: bloom rows of rewritten blocks rebuilt under the
      // same (m, k); manifest republished LAST (metadata-last commit).
      // block_id re-cast long: partition inference may have typed it INT
      val survLong = survivors
        .withColumn("block_id", col("block_id").cast("long"))
      if (hasBloom) {
        val (m, k) = bloomMK
        val keptRows = bloomDf.where(!col("block_id").isin(touchedIds: _*))
        val rebuilt =
          if (rewriteIds.isEmpty) keptRows
          else keptRows.unionByName(bloomRowsOf(survLong, keyCol, m, k))
        swapPublish(fs, rebuilt, bloomPath)
      }
      val curveCols = manifest.columns.toSeq
        .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
      val keptManifest = manifest
        .where(!col("block_id").isin(touchedIds: _*))
      val newManifest =
        if (rewriteIds.isEmpty) keptManifest
        else keptManifest.unionByName(manifestOf(survLong, curveCols)
          .select(keptManifest.columns.map(col): _*))
      swapPublish(fs,
        newManifest.coalesce(1),
        new org.apache.hadoop.fs.Path(s"$outDir/manifest"))
    }
    if (hit != null) hit.unpersist(blocking = false)

    Seq((nBlocks, cand.size.toLong, rewriteIds.size.toLong,
      emptiedIds.size.toLong, nRowsDeleted))
      .toDF("n_blocks", "n_candidate_blocks", "n_rewritten_blocks",
        "n_emptied_blocks", "n_rows_deleted")
  }

  /** Publish `df` over a directory it was (possibly) read from: write
    * to a sibling scratch path, then delete+rename into place.
    */
  private def swapPublish(fs: org.apache.hadoop.fs.FileSystem,
      df: DataFrame, target: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}_swap")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"swapPublish: rename $tmp -> $target failed")
  }
}
