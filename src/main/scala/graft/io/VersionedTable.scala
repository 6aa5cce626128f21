package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-version parquet table with gap-free swaps — the fix for the
  * rename-twice window in [[Merge.swapInto]], where a concurrent reader
  * can catch the instant between "moved aside" and "moved into place"
  * and find no table at all.
  *
  * Layout under `root/`:
  * {{{
  *   _log/000000001   ← marker file, content = data dir name
  *   _log/000000002
  *   d-5f3a…/         ← immutable parquet snapshot dirs, unique names
  *   d-81c0…/
  * }}}
  *
  * Commit protocol (the Delta/Iceberg idea reduced to its kernel):
  * a writer materializes a NEW uniquely-named snapshot dir, then
  * publishes it by creating the next numbered marker with
  * `create(overwrite = false)` — an atomic exclusive create on any
  * correct filesystem. Readers resolve the highest marker and read the
  * dir it names. Nothing is ever renamed or deleted during a swap, so
  * every reader sees a complete committed snapshot; concurrent writers
  * race on the marker number and the loser just re-creates at n+1
  * (its snapshot, not the data, is what retries).
  *
  * Old snapshots stay readable until [[vacuum]] — retention is what
  * bounds storage, exactly like table formats' VACUUM. */
object VersionedTable {

  private val LogDir = "_log"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markers(f: FileSystem, root: String): Seq[(Long, Path)] = {
    val log = new Path(root, LogDir)
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).toSeq
      .flatMap(st => st.getPath.getName.toLongOption.map(_ -> st.getPath))
      .sortBy(_._1)
  }

  private def readMarker(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](256)
      val n = in.read(bytes)
      new String(bytes, 0, math.max(n, 0), StandardCharsets.UTF_8).trim
    } finally in.close()
  }

  /** Highest committed version number, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    markers(fs(spark, root), root).lastOption.map(_._1)

  /** Writes `df` as a new immutable snapshot and publishes it atomically.
    * Returns the committed version number. */
  def write(spark: SparkSession, root: String, df: DataFrame): Long = {
    val f = fs(spark, root)
    val dirName = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.parquet(new Path(root, dirName).toString)
    f.mkdirs(new Path(root, LogDir))
    var n = markers(f, root).lastOption.map(_._1).getOrElse(0L) + 1
    while (!tryCommit(f, root, n, dirName)) n += 1
    n
  }

  private def tryCommit(f: FileSystem, root: String, n: Long, dirName: String): Boolean = {
    val marker = new Path(new Path(root, LogDir), f"$n%09d")
    try {
      // overwrite=false → atomic exclusive create: exactly one writer
      // wins a given version number
      val out = f.create(marker, false)
      try out.write(dirName.getBytes(StandardCharsets.UTF_8)) finally out.close()
      true
    } catch {
      // only a lost race (marker already there) is retryable at n+1 —
      // re-throwing genuine IO failures prevents an unbounded retry loop
      case e: java.io.IOException if f.exists(marker) => false
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** Reads the current committed snapshot. Always sees a complete table:
    * the marker it resolves points at an immutable, fully-written dir.
    *
    * A marker whose CONTENT is still empty is a commit in flight — the
    * writer's create→write→close is not atomic, so a reader listing the
    * log at exactly the wrong microsecond can observe the marker file
    * before its dir name lands in it. Such a version is not committed
    * yet by definition; skip to the newest marker that both has content
    * and whose snapshot dir exists. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    val dir = markers(f, root).reverseIterator
      .map { case (_, m) => readMarker(f, m) }
      .find(d => d.nonEmpty && f.exists(new Path(root, d)))
      .getOrElse(throw new java.io.FileNotFoundException(s"no committed version under $root"))
    spark.read.parquet(new Path(root, dir).toString)
  }

  /** MERGE with the same key semantics as [[Merge.upsertParquet]], but
    * publishing the rewrite as a new version instead of swapping in
    * place — concurrent readers keep their snapshot. */
  def upsert(spark: SparkSession, root: String,
      updates: DataFrame, key: String): (Long, Long, Long, Long) = {
    val target = read(spark, root)
    val plan = Merge.mergePlan(target, updates, key)
    val after = CountedWrite(plan.merged)(write(spark, root, _))
    plan.cached.unpersist()
    (plan.before, after, plan.matchedKeys, plan.updateKeys - plan.matchedKeys)
  }

  /** Drops all but the newest `keep` committed versions (marker first,
    * then data dir). `keep ≥ 2` leaves the previous snapshot alive for
    * readers that resolved it just before a commit. Also removes ORPHAN
    * snapshot dirs — `d-*` dirs no surviving marker references, left by a
    * writer that crashed between the parquet write and the marker commit —
    * but only those older than `orphanAgeMs` (default 1h), so an in-flight
    * writer that has materialized its snapshot but not yet committed its
    * marker isn't swept out from under it. Returns the deleted version
    * numbers (orphans have no version; they don't appear). */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
      orphanAgeMs: Long = 3600000L): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    val all = markers(f, root).map { case (n, m) => (n, m, readMarker(f, m)) }
    // Only COMMITTED versions — non-empty marker content naming an
    // existing snapshot dir — count toward `keep`. read() can resolve
    // only those, so letting anything else occupy a keep slot would be a
    // data-loss bug: a dead writer's permanently-empty marker sitting at
    // the top of the log would push the newest READABLE version into the
    // doomed list and vacuum would delete the current snapshot.
    val committedKeepMarkers = all
      .filter { case (_, _, d) => d.nonEmpty && f.exists(new Path(root, d)) }
      .takeRight(keep)
    val committedKeep = committedKeepMarkers.map(_._1).toSet
    // Two markers can name the SAME snapshot dir (tryCommit retries at
    // n+1 with its already-materialized dir after a marker-write
    // IOException). A doomed marker must never take a kept version's
    // dir down with it.
    val keptDirs = committedKeepMarkers.map(_._3).toSet
    val deleted = all
      .filterNot { case (n, _, _) => committedKeep.contains(n) }
      .flatMap { case (n, marker, dir) =>
        if (dir.isEmpty) {
          // empty content = a commit that never finished. Almost always a
          // dead writer, but a LIVE writer is in this state for the
          // microseconds between marker create and content write —
          // age-gate the delete (same bound as the orphan sweep) so
          // vacuum never clobbers a commit in flight. Strict `<` is
          // deliberate: a marker exactly cutoff-aged (e.g. created the
          // same millisecond as a vacuum(orphanAgeMs = 0)) is spared one
          // extra vacuum — conservative, never data-losing. There is no
          // dir name to delete; a dead writer's orphaned d-* dir falls
          // to the sweep below.
          val st = f.getFileStatus(marker)
          if (st.getModificationTime > 0 && st.getModificationTime < cutoff) {
            f.delete(marker, false)
            Some(n)
          } else None
        } else {
          f.delete(marker, false)
          if (!keptDirs.contains(dir)) f.delete(new Path(root, dir), true)
          Some(n)
        }
      }
    val live = markers(f, root).map { case (_, m) => readMarker(f, m) }.toSet
    f.listStatus(new Path(root)).foreach { st =>
      val name = st.getPath.getName
      // mtime 0 means the store doesn't report directory times (object
      // stores synthesize dir listings) — age is unknowable there, so
      // never treat it as "old": deleting a freshly materialized
      // not-yet-committed snapshot would dangle its upcoming marker
      if (st.isDirectory && name.startsWith("d-") && !live.contains(name) &&
          st.getModificationTime > 0 && st.getModificationTime < cutoff)
        f.delete(st.getPath, true)
    }
    deleted
  }
}
