package graft.sources

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem,
  FilterFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.{FileNotFoundException, IOException}

/** Shared crash-safe incremental lifecycle for parquet-backed index
  * directories — the one protocol behind the IVF, text-postings,
  * json-postings, incremental-dedup and ledger indexes, and the only
  * code that touches an index directory's files:
  *
  *  - **append**: stage the batch's rows under a tag-scoped temp dir,
  *    move files into the live dir under deterministic
  *    `tag-<batchTag>-` names preserving any partition subdirs (a replay
  *    first sweeps partial moves of the same tag), then write the
  *    marker. Tag-idempotent; crash-safe in either direction.
  *  - **delete**: tag-scoped tombstone parquet of ids (overwrite mode —
  *    replays rewrite the same path); [[load]] subtracts them with one
  *    broadcast anti-join so deletes are visible without a rewrite.
  *  - **compact**: rewrite live-minus-tombstones to a staged copy, then
  *    a two-rename swap; [[recover]] (called from every entry point)
  *    completes a swap interrupted between the renames. Re-running
  *    compact after success is a harmless rewrite; append markers
  *    survive compaction so pre-compaction batches replayed later still
  *    no-op.
  *
  * Every file step runs on Hadoop's `FileSystem` API, resolved from the
  * root's own scheme — the API Spark's parquet writes into the same
  * directories use — so a root may be a plain path or a URI of any
  * Hadoop scheme. What each step assumes of the store:
  *
  *  - [[recover]] and `swapIn` (compaction, legacy migration) rely on
  *    an ATOMIC DIRECTORY RENAME: the live dir is either the old or the
  *    new copy, never a mix. On an object store (rename = copy + delete,
  *    file by file) a crash mid-rename can leave a partial live dir, or
  *    a live dir and a half-deleted tmp dir, that no step heals.
  *  - [[commitStaged]] relies on the tag-prefix sweep plus marker-last
  *    ordering instead: each staged file moves on its own, a replay
  *    first sweeps every file carrying the tag's prefix, and the marker
  *    is written only after the last move, so a crash at any point
  *    replays to the same rows. On an object store each move is a copy,
  *    so an append costs its bytes twice, but stays correct.
  *
  * Hadoop's `rename` returns false where `java.nio` throws, and a rename
  * onto an existing directory nests the source inside it; every rename
  * here therefore checks its result, and every directory rename
  * requires an absent destination, failing with `IOException` otherwise. */
object IncrementalIndex {

  /** Directory layout + partitioning of one incremental index. All dirs
    * are siblings derived from (root, name); `partitionCol` is the
    * hive-style partition column of the live parquet (None = flat).
    * `migrate`, when set, derives the partition column from a legacy
    * FLAT live dir written before the spec declared `partitionCol`
    * (e.g. the text postings gained `tp` in round 12): every entry
    * point detects the flat layout and rewrites it once via the staged
    * two-rename swap, so old roots keep working and a partitioned
    * append can never interleave `col=value` subdirs with flat files
    * (which would break parquet partition discovery for good). */
  final case class Spec(root: String, name: String,
                        partitionCol: Option[String],
                        migrate: Option[DataFrame => DataFrame] = None) {
    def liveDir: String = s"$root/$name"
    def tagsDir: String = s"$root/${name}_tags"
    def tombsDir: String = s"$root/${name}_tombstones"
    def tmpDir: String = s"$root/${name}_compact_tmp"
    def retiringDir: String = s"$root/${name}_retiring"
    def stagingRoot: String = s"$root/${name}_staging"
  }

  // ---- file steps (Hadoop FileSystem) ---------------------------------

  /** The filesystem serving `p`'s scheme, on the active session's Hadoop
    * conf (a default conf when no session runs). */
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private def status(dir: String): Option[FileStatus] = {
    val p = new Path(dir)
    try Some(fsOf(p).getFileStatus(p))
    catch { case _: FileNotFoundException => None }
  }

  private def isDir(dir: String): Boolean = status(dir).exists(_.isDirectory)

  /** Direct children of `dir` (empty when absent). */
  private def list(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    try fsOf(p).listStatus(p).toSeq
    catch { case _: FileNotFoundException => Nil }
  }

  /** Data files under `dir` at any depth, one directory listing at a
    * time (empty when absent). Built on `listStatus`, not `listFiles`:
    * the latter's located statuses load each file's permissions, which
    * Hadoop's local filesystem does by forking a process per file when
    * native IO is absent. */
  private def walk(dir: String): Iterator[FileStatus] = {
    val (files, dirs) = list(dir).partition(_.isFile)
    files.iterator ++ dirs.iterator.flatMap(d => walk(d.getPath.toString))
  }

  private def named(f: FileStatus, p: String => Boolean): Boolean =
    p(f.getPath.getName)

  /** Does `fs` keep `.crc` checksum sidecars (Hadoop's local
    * `ChecksumFileSystem`, possibly behind filter layers)? */
  private def checksummed(fs: FileSystem): Boolean = fs match {
    case _: ChecksumFileSystem => true
    case f: FilterFileSystem => checksummed(f.getRawFileSystem)
    case _ => false
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IOException(s"rename $from -> $to failed")

  /** Rename a whole directory; the destination must be absent (Hadoop
    * would nest the source inside an existing one). */
  private def renameDir(from: String, to: String): Unit = {
    val (src, dst) = (new Path(from), new Path(to))
    val fs = fsOf(src)
    if (fs.exists(dst))
      throw new IOException(s"rename $from -> $to: destination exists")
    rename(fs, src, dst)
  }

  private def writeMarker(s: Spec, batchTag: String): Unit = {
    val p = new Path(s"${s.tagsDir}/$batchTag")
    val out = fsOf(p).create(p, true)
    try out.write(batchTag.getBytes("UTF-8")) finally out.close()
  }

  def rmTree(dir: String): Unit = {
    val p = new Path(dir)
    fsOf(p).delete(p, true)
  }

  /** Complete a compaction swap interrupted between its two renames. */
  def recover(s: Spec): Unit = {
    val live = isDir(s.liveDir)
    // tombstones are removed BEFORE the retiring dir in both branches:
    // the retiring dir's presence must cover the whole cleanup window,
    // else a crash between the two rmTrees leaves stale tombstones that
    // no recover() branch cleans and load() silently filters re-appended
    // ids forever.
    if (!live && isDir(s.tmpDir)) {
      renameDir(s.tmpDir, s.liveDir)
      rmTree(s.tombsDir)
      rmTree(s.retiringDir)
    } else if (live && isDir(s.retiringDir)) {
      rmTree(s.tombsDir)
      rmTree(s.retiringDir)
    }
  }

  // ---- legacy flat-layout migration ----------------------------------

  /** Values of the live dir's top-level `partitionCol=value` subdirs
    * (empty for a flat spec or an absent dir). */
  def partitionValues(s: Spec): Seq[String] =
    s.partitionCol.toSeq.flatMap { c =>
      list(s.liveDir).collect { case f if f.isDirectory &&
        named(f, _.startsWith(s"$c=")) =>
        f.getPath.getName.stripPrefix(s"$c=") }
    }

  /** Does the live dir hold top-level data files? Under a declared
    * `partitionCol` the staged moves only ever place parquet inside
    * `col=value` subdirs, so any top-level parquet file marks a legacy
    * flat layout written before the spec was partitioned. */
  private def hasTopLevelParquet(s: Spec): Boolean =
    list(s.liveDir).exists(f => f.isFile && named(f, _.endsWith(".parquet")))

  /** One-time rewrite of a pre-partitioning flat live dir into the
    * spec's declared layout — called from every entry point, no-op on
    * a current layout. Folds pending tombstones like [[compact]] (the
    * tombstone parquet's single column IS the id column), then swaps
    * via the same staged two-rename protocol, so a crash anywhere is
    * healed by [[recover]]. Append markers survive: replays of
    * pre-migration tags still no-op. */
  private def migrateLegacy(spark: SparkSession, s: Spec): Unit = {
    if (s.partitionCol.isEmpty || !hasTopLevelParquet(s)) return
    require(partitionValues(s).isEmpty,
      s"${s.liveDir}: mixed flat + ${s.partitionCol.get}= layout — a " +
        "partitioned append ran against a legacy flat dir with " +
        "pre-migration code; restore from the flat layout and re-append")
    val m = s.migrate.getOrElse(throw new IllegalStateException(
      s"${s.liveDir} has a legacy flat layout but the spec declares " +
        s"partitionCol=${s.partitionCol.get} and no migrate function"))
    swapIn(s, m(minusTombstones(spark, s, spark.read.parquet(s.liveDir),
      None)))
  }

  private def hasTombstones(s: Spec): Boolean = list(s.tombsDir).nonEmpty

  /** `rows` minus tombstoned ids, by one broadcast anti-join; `idCol`
    * None takes the tombstone parquet's own (single) id column. */
  private def minusTombstones(spark: SparkSession, s: Spec, rows: DataFrame,
                              idCol: Option[String]): DataFrame =
    if (!hasTombstones(s)) rows
    else {
      val t = spark.read.parquet(s.tombsDir)
      val id = idCol.getOrElse(t.columns.head)
      rows.join(broadcast(t.select(col(id)).distinct()), Seq(id),
        "left_anti")
    }

  /** Write `rows` in the spec's layout at `path` (overwrite). */
  private def writeLayout(s: Spec, rows: DataFrame, path: String): Unit = {
    // co-locate each partition value's rows into one task before the
    // partitioned write: without this, every (task, partition-value)
    // pair emits its own file — a 32-task batch over 256 values could
    // stage thousands of one-row files, and probe-side listing cost
    // compounds per append. With it, one file per value per write.
    // (Optimization round 19 measured a coalesce(1) alternative for
    // small batches and REVERTED it: coalesce collapses the upstream
    // computation — including a lazily-checkpointed survivor frame —
    // into one task, serializing the whole protocol; the exchange's
    // map side keeps the batch transform parallel.)
    val staged = s.partitionCol.fold(rows)(c => rows.repartition(col(c)))
    val writer = staged.write.mode("overwrite")
    s.partitionCol.fold(writer)(c => writer.partitionBy(c)).parquet(path)
  }

  /** Replace the whole index with `rows` as its base: every protocol dir
    * (markers and tombstones included) is dropped first, so nothing of
    * an earlier index survives the rebuild. */
  def rebuild(s: Spec, rows: DataFrame): Unit = {
    drop(s)
    writeLayout(s, rows, s.liveDir)
  }

  /** Append `rows` (already in index schema) under `batchTag`. */
  def append(spark: SparkSession, s: Spec, rows: DataFrame,
             batchTag: String): Unit =
    if (stage(spark, s, rows, batchTag).isDefined)
      commitStaged(s, batchTag)

  /** Phase 1 of [[append]]: write the batch under the tag-scoped staging
    * dir and return its path, or None when the tag already committed.
    * Callers that derive a SECOND index from the same rows (e.g. the
    * text vocab sidecar from its postings) read the staged parquet back
    * instead of recomputing the batch transform — one pass over the
    * expensive job, two sinks — then [[commitStaged]] finishes the move.
    * Nothing is visible to [[load]] until commit; an uncommitted staging
    * dir is swept by the next append's replay or [[drop]]. */
  def stage(spark: SparkSession, s: Spec, rows: DataFrame,
            batchTag: String): Option[String] = {
    recover(s)
    if (hasTag(s, batchTag)) return None
    migrateLegacy(spark, s)
    val staging = s"${s.stagingRoot}/$batchTag"
    writeLayout(s, rows, staging)
    Some(staging)
  }

  /** Phase 2 of [[append]]: move the staged parquet files into the live
    * dir under deterministic `tag-` names (sweeping any partial prior
    * move of the same tag first), write the marker, clear staging. */
  def commitStaged(s: Spec, batchTag: String): Unit = {
    val live = new Path(s.liveDir)
    val fs = fsOf(live)
    fs.mkdirs(live)
    val prefix = s"tag-$batchTag-"
    // sweep a partial prior move of this tag (any depth), then move the
    // staged parquet files in, preserving partition subdirs
    walk(s.liveDir).filter(named(_, _.startsWith(prefix))).toList
      .foreach(f => fs.delete(f.getPath, false))
    val staging = new Path(s"${s.stagingRoot}/$batchTag")
    val base = fs.makeQualified(staging).toUri.getPath
    // appended files move without their checksum sidecar (a local
    // ChecksumFileSystem would carry it along): the live dir's partition
    // subdirs hold the tag's data files only
    val sidecars = checksummed(fs)
    walk(staging.toString).filter(named(_, _.endsWith(".parquet"))).toList
      .foreach { f =>
        val src = f.getPath
        val rel = src.getParent.toUri.getPath.stripPrefix(base)
          .stripPrefix("/")
        val dst = if (rel.isEmpty) live else new Path(live, rel)
        fs.mkdirs(dst)
        if (sidecars)
          fs.delete(new Path(src.getParent, s".${src.getName}.crc"), false)
        rename(fs, src, new Path(dst, prefix + src.getName))
      }
    writeMarker(s, batchTag)
    rmTree(s.stagingRoot)
  }

  /** Tombstone ids (tag-idempotent; visible at [[load]]; physical at
    * [[compact]]). Re-adding a deleted id requires a compact first. */
  def delete(spark: SparkSession, s: Spec, ids: DataFrame,
             idCol: String, batchTag: String): Unit = {
    recover(s)
    ids.select(col(idCol)).distinct().coalesce(1)
      .write.mode("overwrite").parquet(s"${s.tombsDir}/tag=$batchTag")
  }

  /** Live rows: base + appends minus tombstoned ids. `prune`, when set,
    * filters immediately over the scan — a predicate on `partitionCol`
    * becomes hive-style DIRECTORY pruning (only the matching `col=value`
    * subdirs are listed and read), the lever that keeps an incremental
    * probe from re-reading the whole accumulated index. `mergeSchema`
    * unions the footers' schemas instead of sampling one file — set it
    * when the index's schema has EVOLVED (columns added by later
    * appends), otherwise column visibility depends on file-listing
    * order (ADVICE r16). */
  def load(spark: SparkSession, s: Spec, idCol: String,
           prune: Option[org.apache.spark.sql.Column] = None,
           mergeSchema: Boolean = false): DataFrame = {
    recover(s)
    migrateLegacy(spark, s)
    val base = spark.read
      .option("mergeSchema", mergeSchema.toString).parquet(s.liveDir)
    minusTombstones(spark, s, prune.fold(base)(base.filter), Some(idCol))
  }

  /** [[load]], or an empty frame of `emptySchema` (DDL) while the index
    * holds no data yet — querying before the first append is not an
    * error. */
  def loadOrEmpty(spark: SparkSession, s: Spec, idCol: String,
                  emptySchema: String,
                  mergeSchema: Boolean = false): DataFrame =
    if (exists(s)) load(spark, s, idCol, mergeSchema = mergeSchema)
    else spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType.fromDDL(emptySchema))

  /** Has `batchTag`'s append already committed? O(1) marker-file check —
    * the probe-side twin of [[append]]'s idempotency. */
  def hasTag(s: Spec, batchTag: String): Boolean =
    status(s"${s.tagsDir}/$batchTag").exists(_.isFile)

  /** All committed batch tags. */
  def tags(s: Spec): Set[String] =
    list(s.tagsDir).filter(_.isFile).map(_.getPath.getName).toSet

  /** Commit a marker WITHOUT data — for derived indexes whose rows for
    * `batchTag` landed under another tag (e.g. a combined lazy fold) or
    * whose batch was empty. Idempotent like [[append]]'s marker. */
  def markTag(s: Spec, batchTag: String): Unit = writeMarker(s, batchTag)

  /** Live-dir parquet files belonging to `batchTag`'s append (any
    * partition depth). Empty after a compaction has folded the tag's
    * rows into plain `part-` files — callers using per-tag files must
    * handle that window (see TextIndexLifecycle's vocab fold). */
  def tagFiles(s: Spec, batchTag: String): Seq[String] =
    walk(s.liveDir).filter(named(_, _.startsWith(s"tag-$batchTag-")))
      .map(_.getPath.toString).toList

  /** Does the live dir hold compacted base files (parquet with plain
    * `part-` names, no `tag-` prefix)? */
  def hasBaseFiles(s: Spec): Boolean =
    walk(s.liveDir).exists(named(_, n =>
      n.endsWith(".parquet") && !n.startsWith("tag-")))

  /** Does the index hold any DATA on disk? Requires at least one parquet
    * file, not just the directory: an empty-batch append creates the
    * live dir with zero files (its marker still commits, so replays
    * no-op), and a later probe must treat that as "no index yet" — a
    * bare spark.read.parquet on a fileless dir fails schema inference.
    * Heals an interrupted compaction swap first, which would otherwise
    * read as "no live dir". */
  def exists(s: Spec): Boolean = {
    recover(s)
    walk(s.liveDir).exists(named(_, _.endsWith(".parquet")))
  }

  /** Remove the whole index: live dir, markers, tombstones, and any
    * in-flight staging/compaction state. */
  def drop(s: Spec): Unit =
    Seq(s.liveDir, s.tagsDir, s.tombsDir, s.tmpDir, s.retiringDir,
      s.stagingRoot).foreach(rmTree)

  /** Any pending work for [[compact]] to fold? Tombstones, append dust
    * (files carrying a `tag-` prefix — [[swapIn]]'s rewrite emits plain
    * `part-` names, so a freshly compacted dir has none), or a legacy
    * flat layout awaiting migration. */
  private def hasPendingWork(s: Spec): Boolean =
    hasTombstones(s) ||
      (s.partitionCol.isDefined && hasTopLevelParquet(s)) ||
      walk(s.liveDir).exists(named(_, _.startsWith("tag-")))

  /** Fold tombstones in + merge append dust; crash-safe, replayable.
    * `transform` rewrites the folded rows on the way out (e.g. the text
    * vocab's cross-append duplicate fold) — it must preserve the index
    * schema including `partitionCol`. A replay against an already-
    * compacted dir (no tombstones, no `tag-` append files, no legacy
    * layout) no-ops at file-listing cost instead of rewriting the whole
    * index — the idempotence the protocol promises, at the price it
    * implies. */
  def compact(spark: SparkSession, s: Spec, idCol: String,
              transform: DataFrame => DataFrame = identity): Unit = {
    if (!exists(s)) return // marker-only (empty-batch) index: no data to fold
    if (!hasPendingWork(s)) return // replay after success: nothing to fold
    swapIn(s, transform(load(spark, s, idCol)))
  }

  /** Staged rewrite + two-rename swap of the live dir — the crash-safe
    * tail shared by [[compact]] and [[migrateLegacy]]. Tombstones must
    * already be folded into `rows`; the swap clears them. */
  private def swapIn(s: Spec, rows: DataFrame): Unit = {
    writeLayout(s, rows, s.tmpDir)
    rmTree(s.retiringDir) // stale from a prior crashed run
    renameDir(s.liveDir, s.retiringDir)
    renameDir(s.tmpDir, s.liveDir)
    // tombstones before retiring dir — see recover() for the crash-window
    // reasoning; retiringDir's presence keys the cleanup branch.
    rmTree(s.tombsDir)
    rmTree(s.retiringDir)
  }
}
