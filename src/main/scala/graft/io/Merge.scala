package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Upsert (MERGE) into a parquet table — the Delta/Iceberg `MERGE INTO`
  * capability on plain parquet: updates win over target rows on the key,
  * inserts append, everything else carries over. Rewrite is atomic
  * (temp + rename, same as [[Maintenance.compactParquet]]).
  *
  * At scale this is the copy-on-write strategy: the whole table (or the
  * touched partitions, when a partition predicate is supplied) rewrites.
  * Merge-on-read (delta logs) trades that write cost for read-side merge
  * overhead — out of scope without a table format.
  */
object Merge {

  /** The merged frame plus its key-level counts; `cached` is the
    * updates-side cache to release once `merged` has been written. */
  private[io] final case class MergePlan(
      merged: DataFrame, cached: DataFrame,
      before: Long, matchedKeys: Long, updateKeys: Long)

  /** Builds the MERGE frame shared by [[upsertParquet]] (in-place swap)
    * and [[VersionedTable.upsert]] (new published version). */
  private[io] def mergePlan(target: DataFrame, updates: DataFrame, key: String): MergePlan = {
    require(target.columns.sameElements(updates.columns) ||
      target.columns.toSet == updates.columns.toSet,
      s"schema mismatch: ${target.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    val u = updates.select(target.columns.map(col): _*).cache()
    val updateKeys = u.select(col(key)).distinct()
    val nUpdateKeys = updateKeys.count()
    val matchedKeys = target.select(col(key)).distinct()
      .join(updateKeys, Seq(key), "left_semi").count()
    val merged = target.join(u.select(col(key).as("_uk")), col(key) === col("_uk"), "left_anti")
      .unionByName(u)
    MergePlan(merged, u, target.count(), matchedKeys, nUpdateKeys)
  }

  /** Returns (rowsBefore, rowsAfter, updatedKeys, insertedKeys).
    *
    * Key semantics: ALL target rows carrying an updated key are replaced
    * by ALL update rows with that key (grain of `updates` is preserved,
    * so a multi-row update key lands multi-row). Counts are key-level —
    * well-defined even when either side is non-unique on the key. */
  def upsertParquet(
      spark: SparkSession,
      targetDir: String,
      updates: DataFrame,
      key: String): (Long, Long, Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCrashedSwap(fs, targetDir)
    val target = spark.read.parquet(targetDir)
    val plan = mergePlan(target, updates, key)
    val after = CountedWrite(plan.merged)(swapInto(spark, targetDir, _, suffix = "_merging"))
    plan.cached.unpersist()
    (plan.before, after, plan.matchedKeys, plan.updateKeys - plan.matchedKeys)
  }

  /** Restores a swap that crashed between [[swapInto]]'s two renames:
    * `dir` absent but its `_old` backup present means the old table was
    * moved aside and the new one never landed — without this repair the
    * next apply would take the bootstrap branch and silently rebuild the
    * table from one replayed micro-batch, losing every earlier epoch's
    * keys (the `_old` backup is then deleted by the next swap, so the
    * loss is permanent). Rename the backup home so the apply merges
    * against the pre-crash table. Returns true iff a repair happened. */
  private[io] def recoverCrashedSwap(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val bak = new org.apache.hadoop.fs.Path(dir + "_old")
    if (!fs.exists(path) && fs.exists(bak)) {
      require(fs.rename(bak, path),
        s"crash recovery failed: could not restore $bak to $dir")
      true
    } else false
  }

  /** Conditional MERGE, last-writer-wins (the CDC-apply flavor of
    * `MERGE INTO ... WHEN MATCHED AND source.ts > target.ts`): the
    * target keeps, per key, the single row winning the `ordCols`
    * ordering across target ∪ updates — so replaying stale changes can
    * never regress a newer row, and applying the same batch twice is a
    * no-op (idempotent upsert). `ordCols` must totally order rows
    * within a key (end with a unique column, e.g. the event id);
    * that's also what makes the final state independent of HOW changes
    * were batched: per-key argmax is associative and commutative, so
    * any batching of the same change set converges to the same table —
    * the property the p15 stream≡batch gate checks.
    *
    * One shuffle on the key per apply; the rewrite is copy-on-write via
    * the same atomic temp+rename as [[upsertParquet]]. A missing target
    * bootstraps from the updates alone (first micro-batch). */
  def lwwUpsertParquet(spark: SparkSession, targetDir: String,
      updates: DataFrame, key: String, ordCols: Seq[String]): Unit = {
    require(ordCols.nonEmpty, "lww merge needs at least one ordering column")
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCrashedSwap(fs, targetDir)
    val exists = fs.exists(path)
    val combined =
      if (exists) {
        val target = spark.read.parquet(targetDir)
        require(target.columns.toSet == updates.columns.toSet,
          s"schema mismatch: ${target.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
        target.unionByName(updates.select(target.columns.map(col): _*))
      } else updates
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(ordCols.map(col(_).desc): _*)
    val merged = combined
      .withColumn("_lww_rn", row_number().over(w))
      .filter(col("_lww_rn") === 1).drop("_lww_rn")
    if (exists) swapInto(spark, targetDir, merged, suffix = "_lww")
    else {
      // bootstrap through the same temp+rename: a crash mid-write must
      // leave targetDir ABSENT (so the replayed epoch bootstraps again),
      // never half-committed (which would wedge every later read)
      val tmp = new org.apache.hadoop.fs.Path(targetDir + "_lww")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      require(fs.rename(tmp, path),
        s"bootstrap failed: could not move $tmp into place")
    }
  }

  /** Bucket count the table at `dir` was laid out with, from the JSON
    * side file written at bootstrap — re-read per apply (microseconds,
    * no Spark job) so an apply against a table built with a different
    * bucket count fails loudly instead of scattering keys across two
    * incompatible layouts where half the probes silently miss. */
  private def readBucketCount(fs: org.apache.hadoop.fs.FileSystem,
      targetDir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(targetDir + "_buckets.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      "\"num_buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
    }
  }

  private def writeBucketCount(fs: org.apache.hadoop.fs.FileSystem,
      targetDir: String, n: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(targetDir + "_buckets.json")
    val out = fs.create(p, true)
    try out.write(s"""{"num_buckets":$n}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Repairs bucket swaps crashed between their two renames: any bucket
    * present under the `_bak` root whose home directory is absent was
    * moved aside and never replaced — rename it home (the bucket-level
    * [[recoverCrashedSwap]]). Backups whose home EXISTS are stale
    * leftovers of a crash after the rename-in, deleted. Runs at the top
    * of every bucketed apply, so a restarted stream heals the table
    * before merging its replayed epoch into it. */
  private def recoverCrashedBuckets(fs: org.apache.hadoop.fs.FileSystem,
      targetDir: String): Unit = {
    val bakRoot = new org.apache.hadoop.fs.Path(targetDir + "_bak")
    if (!fs.exists(bakRoot)) return
    fs.listStatus(bakRoot).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("_bucket=")) {
        val home = new org.apache.hadoop.fs.Path(s"$targetDir/$name")
        if (!fs.exists(home))
          require(fs.rename(st.getPath, home),
            s"crash recovery failed: could not restore ${st.getPath} to $home")
        else fs.delete(st.getPath, true)
      }
    }
  }

  /** The scale-safe [[lwwUpsertParquet]]: the target is laid out as
    * `numBuckets` hash partitions of the key (`_bucket =
    * pmod(xxhash64(key), n)`, a parquet partition column), and each
    * apply reads, merges, and rewrites ONLY the buckets containing
    * updated keys — per-apply cost is O(dirty buckets) ≈ O(batch), not
    * O(target), which is what lets a long-running CDC stream apply
    * small batches against a 100 TB table (the full-table copy-on-write
    * of [[lwwUpsertParquet]] is the right shape only when updates ≈
    * target). Same LWW semantics: per key, the row winning the
    * `ordCols` ordering across target ∪ updates survives, so replays
    * and re-batchings converge identically (a key hashes to exactly one
    * bucket, so per-bucket merges see every row of their keys).
    *
    * Each dirty bucket rewrites through its own temp + rename-aside +
    * rename-in (backups live under `<dir>_bak`, OUTSIDE the table root,
    * so partition discovery never reads them); a crash at any point is
    * healed by [[recoverCrashedBuckets]] at the next apply, and
    * re-applying the interrupted batch is a no-op by LWW idempotence.
    * Single-writer: two concurrent appliers race the bucket renames and
    * the loser's `require` fires loudly (MergeSpec pins this).
    *
    * Readers see `_bucket` as an extra trailing partition column —
    * `SELECT`s should name their columns. Returns the dirty bucket ids
    * (the touched-partition count the StreamingSpec scale assertion
    * checks).
    *
    * File lifecycle: each apply REPLACES every dirty bucket dir whole
    * with one freshly-written file, so bucket dirs never accrete small
    * files — the table is self-compacting and an idle bucket keeps its
    * single-file layout indefinitely. Do NOT point the generic
    * [[Maintenance.compactParquet]] at a bucketed root: it has nothing
    * to do here, and its in-root backup staging is unsafe against this
    * table's `<dir>_bak` crash recovery (it refuses loudly).
    *
    * Two deliberate r18 bootstrap-path choices (ADVICE r18): the
    * bootstrap evaluates `updates` twice — an `isEmpty` probe (stops at
    * the first row) plus the lww+write job — instead of caching it;
    * callers whose update plan is expensive to even START (a big
    * upstream shuffle) should cache upstream, but the streaming sinks
    * here feed file-source micro-batches where the probe is a cheap
    * scan. And the side-file guard now fires BEFORE the empty-batch
    * early return on the apply path: an empty micro-batch against a
    * present table with a missing/mismatched `_buckets.json` throws
    * rather than silently succeeding — a broken layout guard is a
    * stop-the-stream condition regardless of the batch that happened
    * to expose it. */
  def lwwUpsertParquetBucketed(spark: SparkSession, targetDir: String,
      updates: DataFrame, key: String, ordCols: Seq[String],
      numBuckets: Int = 16): Seq[Int] = {
    require(ordCols.nonEmpty, "lww merge needs at least one ordering column")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCrashedBuckets(fs, targetDir)
    val u = updates
      .withColumn("_bucket",
        pmod(xxhash64(col(key)), lit(numBuckets.toLong)).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(ordCols.map(col(_).desc): _*)
    def lww(df: DataFrame): DataFrame = df
      .withColumn("_lww_rn", row_number().over(w))
      .filter(col("_lww_rn") === 1).drop("_lww_rn")
    if (!fs.exists(path)) {
      // bootstrap: same temp+rename discipline as the unbucketed path —
      // a crash mid-write leaves targetDir absent, never half-committed.
      // Repartition on _bucket so each bucket lands as ~one file instead
      // of one-per-(task × bucket) — at numBuckets sized for ~1 GB
      // buckets that is the layout a 100 TB table needs, and it makes
      // touched-FILE count track dirty buckets on later applies.
      // No batch cache and no dirty pre-scan here (r18): bootstrap
      // consumes the batch exactly once (the lww+write job), so the
      // apply path's cache+distinct+collect would be a pure extra pass —
      // the dirty set is read back from the written partition layout
      // (one directory LIST, no Spark job). isEmpty guards the
      // empty-first-micro-batch case the dirty pre-scan used to catch
      // (stops at the first row, far cheaper than a distinct).
      if (updates.isEmpty) return Seq.empty
      val tmp = new org.apache.hadoop.fs.Path(targetDir + "_lww")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      lww(u).repartition(numBuckets, col("_bucket"))
        .write.partitionBy("_bucket")
        .mode(SaveMode.Overwrite).parquet(tmp.toString)
      // side file BEFORE the rename into place: it lives outside the
      // table dir so writing it first is safe, and a crash between the
      // two steps leaves (side file present, table absent) — healed by
      // the replayed bootstrap overwriting both — where the old order's
      // crash window left a committed table whose bucket-count guard was
      // permanently disabled (side file never written)
      writeBucketCount(fs, targetDir, numBuckets)
      require(fs.rename(tmp, path),
        s"bootstrap failed: could not move $tmp into place")
      fs.listStatus(path).map(_.getPath.getName)
        .filter(_.startsWith("_bucket="))
        .map(_.stripPrefix("_bucket=").toInt).sorted.toSeq
    } else {
      // a PRESENT table with no side file is never acceptable: either
      // the target pre-exists with an unknown layout (it was not
      // bootstrapped by this path) or the side file was lost — in both
      // cases applying with an assumed numBuckets could scatter keys
      // across two incompatible layouts, the exact silent corruption
      // the guard exists to prevent. Fail loudly instead of guessing
      // (inferring the count from the _bucket= listing is unsound:
      // buckets with no keys yet have no partition dir).
      val n = readBucketCount(fs, targetDir).getOrElse(throw new IllegalStateException(
        s"table at $targetDir exists but its ${targetDir}_buckets.json side file is " +
          "missing — refusing to apply with an unverified bucket layout. " +
          "Restore the side file with the table's true bucket count " +
          "(or rebuild the table) to resume."))
      require(n == numBuckets,
        s"bucket-count mismatch: table at $targetDir has $n buckets, apply used $numBuckets")
      // the apply path consumes the batch twice (dirty pre-scan + the
      // merge itself) — cache it for the pair; the pre-scan is what
      // lets the apply know which partitions to touch without scanning
      // any, so per-apply cost tracks the batch, not the table
      val uc = u.cache()
      // ≤ numBuckets small ints — the one driver collect
      val dirty = uc.select(col("_bucket")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      if (dirty.isEmpty) { uc.unpersist(); return dirty } // empty micro-batch
      val target = spark.read.parquet(targetDir)
      require(target.columns.toSet == uc.columns.toSet,
        s"schema mismatch: ${target.columns.mkString(",")} vs ${uc.columns.mkString(",")}")
      // partition-pruned: only the dirty buckets' files are read
      val scoped = target.filter(col("_bucket")
        .isin(dirty.map(Int.box): _*))
      val merged = lww(scoped.unionByName(uc.select(target.columns.map(col): _*)))
      val tmp = new org.apache.hadoop.fs.Path(targetDir + "_lww")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      merged.repartition(dirty.size, col("_bucket"))
        .write.partitionBy("_bucket")
        .mode(SaveMode.Overwrite).parquet(tmp.toString)
      val bakRoot = new org.apache.hadoop.fs.Path(targetDir + "_bak")
      if (!fs.exists(bakRoot)) fs.mkdirs(bakRoot)
      dirty.foreach { b =>
        val home = new org.apache.hadoop.fs.Path(s"$targetDir/_bucket=$b")
        val fresh = new org.apache.hadoop.fs.Path(s"$tmp/_bucket=$b")
        val bak = new org.apache.hadoop.fs.Path(s"$bakRoot/_bucket=$b")
        // every dirty bucket has ≥1 update row, so lww kept ≥1 row and
        // the fresh partition dir exists
        require(fs.exists(fresh), s"merge wrote no partition for dirty bucket $b")
        if (fs.exists(bak)) fs.delete(bak, true)
        if (fs.exists(home))
          require(fs.rename(home, bak), s"swap failed: could not move $home aside")
        require(fs.rename(fresh, home), s"swap failed: could not move $fresh into place")
        fs.delete(bak, true)
      }
      fs.delete(tmp, true)
      uc.unpersist()
      dirty
    }
  }

  /** Writes `df` to a temp sibling then swaps it into `dir`, checking
    * every filesystem step. Stale temp/backup dirs from a crashed prior
    * run are cleaned first — otherwise their presence makes rename
    * silently fail and the swap becomes a data-losing no-op.
    *
    * The two renames leave a small window where `dir` does not exist; a
    * concurrent reader planning a scan right then fails. Single-writer
    * single-reader pipelines tolerate that; for always-readable tables
    * use [[VersionedTable]], whose marker-file commit has no gap. */
  private[io] def swapInto(spark: SparkSession, dir: String,
      df: DataFrame, suffix: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir + suffix)
    val bak = new org.apache.hadoop.fs.Path(dir + "_old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    require(fs.rename(path, bak), s"swap failed: could not move $path aside")
    require(fs.rename(tmp, path), s"swap failed: could not move $tmp into place")
    fs.delete(bak, true)
  }
}
