package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.connect.PlannedPartitions

/** Lakehouse table maintenance.
  *
  * The small-files problem is the silent killer of 100 TB parquet lakes:
  * every incremental append leaves another sliver file, and a table that
  * should scan as a few thousand row-group-sized splits degrades into
  * millions of open()/footer-parse round trips (plus NameNode/listing
  * pressure) that no amount of executor parallelism buys back. Compaction
  * rewrites a directory into ~`targetBytes` output files and is designed
  * to run as a background stage between pipeline runs.
  */
object Maintenance {

  /** (path, bytes) of every data file under `dir` (recursive, dotfiles
    * and _SUCCESS markers excluded). Driver-side listing — file METADATA
    * only, never data; at extreme directory counts swap in a distributed
    * lister, the compaction plan below is unchanged.
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          buf += ((f.getPath.toString, f.getLen))
      }
      buf.result()
    }
  }

  /** Compact the parquet directory `inDir` into `outDir` targeting
    * `targetBytes` per output file; returns (DataFrame over the compacted
    * copy, output file count).
    *
    * The file count is ceil(total input bytes / targetBytes) — computed
    * from the actual listing, not row counts, so compression ratio and
    * wide/narrow schemas are automatically accounted for. The rewrite
    * uses `coalesce` (a NARROW dependency: input splits are merged into
    * output tasks with no shuffle, no sort, no hash — the cheapest
    * possible rewrite) unless the input already has fewer partitions
    * than requested, where it falls back to a round-robin repartition to
    * actually split oversized files.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): (DataFrame, Int) = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val files = dataFiles(spark, inDir)
    require(files.nonEmpty, s"no data files under $inDir")
    val totalBytes = files.map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val in = spark.read.parquet(inDir)
    val shaped =
      if (PlannedPartitions.count(in) >= nOut) in.coalesce(nOut)
      else in.repartition(nOut)
    shaped.write.mode("overwrite").parquet(outDir)
    (spark.read.parquet(outDir), dataFiles(spark, outDir).size)
  }

  /** Mergeable per-key aggregate state — the incremental-materialized-
    * view primitive: each ingest shard aggregates once into a compact
    * state table (`n` + one exact DECIMAL(38,6) sum per value column),
    * and [[mergeAggStates]] combines any number of shard states into
    * the state of their union WITHOUT rescanning rows. The contract
    * mirrors the sketch shard-merge gates (`sketch_hll_shards`,
    * `sketch_kmv_shards`), but for exact algebraic aggregates: count and
    * sum are associative, so merge(state(A), state(B)) == state(A ∪ B)
    * bit-for-bit. The decimal accumulator keeps the sum exact and
    * order-insensitive — a double sum would break both the merge
    * contract and the cross-engine replay.
    *
    * Shape at scale: state build is one map-side-combined aggregation
    * per shard; merge shuffles STATES (one row per key per shard), never
    * data — refreshing a 100 TB view after an append costs the append's
    * scan plus a state-sized merge.
    */
  def aggState(df: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "aggState needs at least one key column")
    require(sumCols.nonEmpty, "aggState needs at least one value column")
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("n") +: sumCols.map(c =>
      sum(col(c).cast("decimal(38,6)")).as(s"sum_$c"))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge shard states built by [[aggState]] over the SAME keys and
    * value columns: per-key long/decimal sums of the partials. Keys
    * present in any shard appear in the merge (a shard that never saw a
    * key simply contributes nothing).
    */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeAggStates needs at least one state")
    import org.apache.spark.sql.functions._
    val all = states.reduce(_ unionByName _)
    val valCols = all.columns.filterNot(keys.contains)
    require(valCols.contains("n"),
      s"not an aggState table: missing 'n' in ${all.columns.mkString(",")}")
    val aggs = valCols.map(c => sum(col(c)).as(c))
    all.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---- versioned snapshots (metadata-last commit + time travel) ----

  /** Publish `df` as the next version of the snapshot table under
    * `baseDir` and return the new version number. Layout:
    * `baseDir/data/v=N/` holds version N's parquet; `baseDir/_versions/`
    * is a tiny append-only parquet of COMMITTED versions
    * (version, n_rows). The commit protocol is metadata-LAST: data is
    * fully written before the version row is appended, and readers
    * ([[readSnapshot]]) resolve versions exclusively from `_versions` —
    * a crashed or half-written publish leaves an orphaned data directory
    * that no reader can ever observe (the Delta/Iceberg commit idea with
    * plain parquet). Single-writer contract: concurrent publishers race
    * on the version number; serialize publishes per table (the reference
    * plugin's save path assumes the same,
    * ref: CassandraLoad.scala:61-74's single truncate-then-write flow).
    *
    * Append-only and therefore latch-free; reclaiming old versions is
    * the destructive operation and lives behind the usual
    * `confirm.truncate` latch in [[vacuumSnapshots]].
    *
    * Writer exclusion: publish and vacuum both hold `_publish.lock`
    * (atomic create) for their duration, so a concurrent second writer
    * FAILS LOUDLY instead of racing the version number or reclaiming an
    * in-flight directory as an orphan. A crashed writer leaves the lock
    * behind — the error message names it and the recovery step (verify
    * no writer is live, delete the lock; the next publish/vacuum then
    * heals any half-done swap or orphan). Best-effort atomicity: on a
    * filesystem without atomic create-exclusive (some object stores)
    * this degrades to advisory, matching the documented single-writer
    * contract.
    */
  def publishSnapshot(df: DataFrame, baseDir: String): Long = {
    val spark = df.sparkSession
    val fs = new Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, baseDir, "publishSnapshot") {
      // vacuum crash recovery FIRST: a staged `_versions.tmp` means a
      // vacuum died inside its swap. If `_versions` survives, the stage is
      // stale — discard it; if `_versions` is gone, the fully-written
      // stage IS the committed survivor list — complete the rename.
      // Without this, a vacuum crash between delete and rename would make
      // committedVersions read Nil and the reclaim below silently delete
      // live survivor data.
      healVersionsSwap(fs, baseDir, "publishSnapshot")
      val committed = committedVersions(spark, baseDir)
      val next = committed.map(_._1).foldLeft(0L)(math.max) + 1L
      // publish crash recovery: a data/v=N directory that is NOT in
      // `_versions` is the orphan of a publish that died between data
      // write and metadata append — no reader can ever have observed it
      // (readSnapshot only serves committed versions), so reclaim it
      // instead of wedging every future publish on mode("errorifexists").
      // Reclaim ONLY against a real commit history: data under a table
      // with NO `_versions` at all is unexplained state (manual writes,
      // wreckage this code cannot attribute) — fail loudly and preserve
      // it. The writer lock guarantees no concurrent publisher's
      // in-flight directory can be mistaken for an orphan here.
      val dataPath = new Path(s"$baseDir/data/v=$next")
      if (fs.exists(dataPath)) {
        if (committed.nonEmpty) fs.delete(dataPath, true)
        else throw new IllegalStateException(
          s"publishSnapshot: $dataPath exists but $baseDir/_versions does " +
            "not — refusing to reclaim unexplained data; restore _versions " +
            "or remove the directory manually")
      }
      df.write.mode("errorifexists").parquet(s"$baseDir/data/v=$next")
      val n = spark.read.parquet(s"$baseDir/data/v=$next").count()
      import spark.implicits._
      Seq((next, n)).toDF("version", "n_rows")
        .coalesce(1).write.mode("append").parquet(s"$baseDir/_versions")
      next
    }
  }

  /** Hold `baseDir/_publish.lock` for the duration of `body`. Exactly one
    * writer wins the atomic create; the loser (or any writer arriving
    * while a crashed writer's lock lingers) fails loudly with the
    * recovery path in the message.
    */
  private def withWriterLock[T](fs: org.apache.hadoop.fs.FileSystem,
      baseDir: String, who: String)(body: => T): T = {
    val lock = new Path(s"$baseDir/_publish.lock")
    fs.mkdirs(new Path(baseDir))
    // Hadoop's LOCAL createNewFile is exists-check-then-create — two
    // racing writers can both "win" it (caught by the MaintenanceSpec
    // race test). For file: paths go through NIO's O_CREAT|O_EXCL,
    // which the kernel arbitrates; on HDFS createNewFile is arbitrated
    // server-side and is used as-is. Other stores degrade to advisory
    // (documented above).
    // Only CONTENTION (the lock already existing) maps to acquired=false;
    // any other IOException (permissions, transient FS fault) propagates —
    // misreporting it as "lock already held" would send an operator down
    // the delete-the-lock recovery path for the wrong problem.
    val acquired = {
      val scheme = lock.toUri.getScheme
      if (scheme == null || scheme == "file") {
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(lock.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try fs.createNewFile(lock)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      }
    }
    if (!acquired) throw new IllegalStateException(
      s"$who: writer lock $lock is already held — another publish/vacuum " +
        "is in flight, or a crashed writer left the lock behind. Verify " +
        "no writer is live, delete the lock file, and retry; the next " +
        "writer heals any interrupted swap or orphaned version directory")
    try body finally fs.delete(lock, false)
  }

  /** Complete an interrupted vacuum swap: a fully-written
    * `_versions.tmp` with no `_versions` IS the committed survivor list
    * — finish the rename; a stale tmp beside a live `_versions` is
    * discarded. Idempotent; called by every writer (and, rename-only, by
    * the read path) so a read-mostly table heals without waiting for its
    * next publish.
    */
  private def healVersionsSwap(fs: org.apache.hadoop.fs.FileSystem,
      baseDir: String, who: String): Unit = {
    val tmp = new Path(s"$baseDir/_versions.tmp")
    val cur = new Path(s"$baseDir/_versions")
    if (fs.exists(tmp)) {
      if (fs.exists(cur)) fs.delete(tmp, true)
      else if (!fs.rename(tmp, cur) && !fs.exists(cur))
        // a failed rename whose DESTINATION now exists is a concurrent
        // healer (an unlocked reader) winning the same rename — the swap
        // is complete either way, so only a rename that left no
        // `_versions` behind is a real failure
        throw new IllegalStateException(
          s"$who: completing an interrupted vacuum swap failed " +
            s"(rename $tmp -> $cur); resolve manually before writing")
    }
  }

  /** (version, n_rows) pairs committed under `baseDir`, ascending; empty
    * when the table has never been published. Metadata only — one tiny
    * parquet read.
    */
  def committedVersions(spark: SparkSession,
      baseDir: String): Seq[(Long, Long)] = {
    val p = new Path(s"$baseDir/_versions")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read-path healing of an interrupted vacuum swap: with `_versions`
    // gone and only the staged tmp on disk, every read would otherwise
    // report "never published" until the NEXT publish — which on a
    // read-mostly table may never come. The heal is rename-only (reads
    // never delete data), and it is guarded two ways against racing a
    // LIVE vacuum inside its own swap window:
    //  - `_publish.lock` present ⇒ a writer is in flight (or crashed) —
    //    skip healing entirely and report the table as it stands; the
    //    writer heals its own swap under the lock;
    //  - a failed rename whose destination now exists ⇒ someone else
    //    (the vacuum, or another reader) completed the same swap — that
    //    is success, not an error.
    if (!fs.exists(p)) {
      val tmp = new Path(s"$baseDir/_versions.tmp")
      val lock = new Path(s"$baseDir/_publish.lock")
      if (fs.exists(tmp) && !fs.exists(lock) &&
          !fs.rename(tmp, p) && !fs.exists(p))
        throw new IllegalStateException(
          s"committedVersions: completing an interrupted vacuum swap " +
            s"failed (rename $tmp -> $p); resolve manually")
    }
    if (!fs.exists(p)) Nil
    else spark.read.parquet(p.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  /** Read a committed snapshot version (`None` = latest) — time travel.
    * Unknown or uncommitted versions fail loudly: an orphaned data
    * directory from a crashed publish is unreadable BY DESIGN.
    */
  def readSnapshot(spark: SparkSession, baseDir: String,
      version: Option[Long] = None): DataFrame = {
    val committed = committedVersions(spark, baseDir)
    require(committed.nonEmpty, s"no committed snapshot under $baseDir")
    val v = version.getOrElse(committed.last._1)
    require(committed.exists(_._1 == v),
      s"version $v is not committed under $baseDir " +
        s"(committed: ${committed.map(_._1).mkString(", ")})")
    spark.read.parquet(s"$baseDir/data/v=$v")
  }

  /** Drop all but the newest `keepLast` committed versions: their data
    * directories are deleted and `_versions` is rewritten to the
    * survivors. DESTRUCTIVE — requires `confirm.truncate=true` in
    * `options` like every other destructive write in the engine. Returns
    * the dropped version numbers.
    *
    * Every latched vacuum call also RECLAIMS orphans: after the swap it
    * lists `data/` and deletes any `v=K` directory whose K is not
    * committed — covering (a) a previous vacuum that crashed after its
    * metadata rename but before its directory deletes (those versions'
    * data would otherwise leak forever: publish's reclaim only inspects
    * `v=next`) and (b) a crashed publish's orphan on a table that never
    * publishes again. Runs even when no version is dropped, so
    * `vacuumSnapshots(keepLast = LARGE)` is the manual orphan-cleanup
    * path. Holds the same writer lock as [[publishSnapshot]].
    */
  def vacuumSnapshots(spark: SparkSession, baseDir: String, keepLast: Int,
      options: Map[String, String] = Map.empty): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    if (!options.get("confirm.truncate").exists(_.equalsIgnoreCase("true")))
      throw new IllegalArgumentException(
        "vacuumSnapshots deletes published versions under " + baseDir +
          ": pass confirm.truncate=true (destructive-write latch)")
    val fs = new Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, baseDir, "vacuumSnapshots") {
      healVersionsSwap(fs, baseDir, "vacuumSnapshots")
      val committed = committedVersions(spark, baseDir)
      val dropped = committed.dropRight(keepLast)
      val kept = committed.takeRight(keepLast)
      if (dropped.nonEmpty) {
        import spark.implicits._
        // metadata first here (the inverse of publish): once `_versions`
        // lists only the survivors, readers cannot observe a half-deleted
        // version even if the directory removals below are interrupted.
        // The survivor list is staged to a temp directory and swapped in
        // by delete+rename — a concurrent reader's exposure window is two
        // filesystem metadata ops, not a whole Spark write job (a reader
        // landing exactly inside the swap sees "never published" and
        // should retry; full isolation needs quiesced readers)
        val tmp = new Path(s"$baseDir/_versions.tmp")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        kept.toDF("version", "n_rows")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val cur = new Path(s"$baseDir/_versions")
        fs.delete(cur, true)
        // destination-exists after a failed rename = a reader that raced
        // past the lock check completed this very swap — the survivor
        // list is in place either way (same guard as healVersionsSwap)
        if (!fs.rename(tmp, cur) && !fs.exists(cur))
          throw new IllegalStateException(
            s"vacuumSnapshots: rename $tmp -> $cur failed")
      }
      // orphan reclaim: every data/v=K not in the survivor list — the
      // versions just dropped plus any directory a crashed writer left.
      // Guarded on a real commit history like publish's reclaim.
      val dataRoot = new Path(s"$baseDir/data")
      if (kept.nonEmpty && fs.exists(dataRoot)) {
        val keptSet = kept.map(_._1).toSet
        fs.listStatus(dataRoot).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("v=") &&
              name.drop(2).toLongOption.exists(!keptSet.contains(_)))
            fs.delete(st.getPath, true)
        }
      }
      dropped.map(_._1)
    }
  }

  /** Changed-KEY set between two table versions: one row per key whose
    * state changed, classified `insert` (key only in `next`), `delete`
    * (key only in `prev`) or `update` (key in both, any non-key column
    * differing). Unchanged keys emit nothing.
    *
    * Relationship to [[Cdc.derive]] (the full change feed): `derive`
    * ships ENTIRE rows through its full-outer join and emits the changed
    * VALUES — what a downstream apply needs. This operator answers only
    * "WHICH keys changed": each side collapses to (keys, one fingerprint
    * string) before the join, so the shuffle cost is key-sized no matter
    * how wide the table — the cheap first pass that scopes an
    * incremental recompute (re-read only the changed partitions / invalidate
    * only the changed cache keys) over a wide 100 TB snapshot. It also
    * takes COMPOSITE keys, which `derive`'s single-key uniqueness guard
    * does not.
    *
    * The fingerprint casts every non-key column to string in sorted
    * column order (U+0001-separated, U+0002 for NULL) — injective per
    * engine, which is all equality needs; the two frames must share a
    * schema (enforced).
    */
  def changedKeys(prev: DataFrame, next: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "at least one key column")
    require(prev.columns.sorted.toSeq == next.columns.sorted.toSeq,
      s"schemas differ: ${prev.columns.mkString(",")} vs " +
        next.columns.mkString(","))
    val nonKey = prev.columns.sorted.filterNot(keys.contains).toSeq
    // U+0001 separator + U+0002 null sentinel: concat_ws SKIPS nulls,
    // which would alias ("a", null) with just ("a"); the sentinel keeps
    // the fingerprint injective per engine, which is all equality needs
    def slim(df: DataFrame, fpName: String) =
      df.select(keys.map(col) :+
        concat_ws("\u0001",
          nonKey.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
          .as(fpName): _*)
    slim(prev, "__fp_a").join(slim(next, "__fp_b"), keys, "full_outer")
      .withColumn("change_type",
        when(col("__fp_a").isNull, lit("insert"))
          .when(col("__fp_b").isNull, lit("delete"))
          .when(col("__fp_a") =!= col("__fp_b"), lit("update")))
      .where(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }
}
