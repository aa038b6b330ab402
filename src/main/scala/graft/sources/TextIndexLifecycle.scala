package graft.sources

import graft.operators.HybridTable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental lifecycle for the persisted positional text index
  * ([[IndexedTable]] builds it once at open; a daily pipeline also needs
  * append / delete / compact — the reference rebuilds Lucene indexes per
  * sealed segment and drops them with the segment, so segment-granular
  * add/remove IS its lifecycle; here the index is one parquet postings
  * dir, so the lifecycle is file-granular via the shared
  * [[IncrementalIndex]] protocol: O(batch) tag-idempotent crash-safe
  * appends, tombstone deletes visible at load, staged two-rename
  * compaction with interrupted-swap recovery). */
object TextIndexLifecycle {

  // postings are hive-partitioned by the token's tp prefix
  // ([[graft.operators.TextMatch.tpCol]], 16 values): an exact-term or
  // phrase probe prunes to its terms' partitions — the json index's
  // path-partition discipline applied to the text index. Wildcard/fuzzy
  // probes scan all 16 (they match unknown tokens), same as Lucene
  // walking the whole term dictionary.
  // pre-round-12 roots hold FLAT postings (no tp column); the migrate
  // hook derives it so the shared protocol rewrites such a root once
  // instead of corrupting it with a mixed layout on the next append
  private def addTp(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("tp", graft.operators.TextMatch.tpCol(col("token")))
  }

  private def spec(indexRoot: String, column: String) =
    IncrementalIndex.Spec(indexRoot, s"text_$column",
      partitionCol = Some("tp"), migrate = Some(addTp))

  // Lucene's term dictionary alongside the postings: one (token, tp) row
  // per distinct indexed token. Maintained LAZILY (round 13 — the
  // round-12 shape wrote it eagerly inside every append, doubling the
  // ingest hot path's jobs and file ceremony): append touches ONLY the
  // postings; [[loadVocab]] folds any postings batches the dictionary
  // hasn't seen yet — reading the batches' own `tag-` files, |batch|
  // rows, never the corpus — under the same
  // tag-idempotent marker protocol, so the dictionary any probe SEES is
  // always complete. Deletes deliberately do NOT touch the vocab: an
  // over-claiming dictionary is still CORRECT (a retired token's
  // candidates simply find no postings rows in the semi-join), which is
  // what keeps maintenance O(batch) instead of O(corpus). loadVocab
  // distincts at read, so cross-fold duplicates cost space (folded by
  // compact's file merge), never correctness.
  private def vocabSpec(indexRoot: String, column: String) =
    IncrementalIndex.Spec(indexRoot, s"text_${column}_vocab",
      partitionCol = Some("tp"), migrate = Some(addTp))

  def postingsDir(indexRoot: String, column: String): String =
    spec(indexRoot, column).liveDir

  /** Has `batchTag`'s postings append committed? */
  def hasTag(indexRoot: String, column: String, batchTag: String): Boolean =
    IncrementalIndex.hasTag(spec(indexRoot, column), batchTag)

  /** Drop the whole index (all lifecycle dirs) — gate/test hygiene. */
  def deleteRoot(indexRoot: String): Unit = IncrementalIndex.rmTree(indexRoot)

  /** Append a document batch: tokenize ONLY the batch (O(batch), never a
    * corpus re-index), then the shared staged move. Replayed tags no-op.
    * One sink — the vocab sidecar catches up lazily at [[loadVocab]], so
    * continuous ingest pays exactly one tokenize job and one partitioned
    * write per batch. */
  def append(spark: SparkSession, indexRoot: String, column: String,
             idCol: String, batch: DataFrame, batchTag: String): Unit =
    IncrementalIndex.append(spark, spec(indexRoot, column),
      addTp(HybridTable.positionalTextIndex(batch, column, idCol)),
      batchTag)

  /** Bring the term dictionary up to date with the postings: every
    * committed postings tag the vocab hasn't folded yet is read from its
    * own `tag-` files (O(pending batches)) in ONE combined job, the
    * distinct (token, tp) delta lands under a deterministic fold tag,
    * and each pending tag is then marked. Crash-idempotent: a retry of
    * the same pending set replays the same fold tag (the data append
    * no-ops) and finishes the markers; a PARTIAL marker crash re-folds
    * the unmarked remainder into a new fold tag — duplicate (token, tp)
    * rows, which load's distinct absorbs and compact's merge folds
    * physically. When a pending tag's files are gone (a compaction
    * rewrote them into plain `part-` files before any fold ran — e.g.
    * the index was compacted while nothing read the dictionary), the
    * dictionary is rebuilt exact from the full live postings instead:
    * one distinct-token columnar pass over data the compaction just
    * rewrote anyway, paid only on that probe-after-compact edge, never
    * on the ingest path. */
  private def foldVocab(spark: SparkSession, indexRoot: String,
                        column: String): Unit = {
    import org.apache.spark.sql.functions.col
    val ps = spec(indexRoot, column)
    val vs = vocabSpec(indexRoot, column)
    val pending =
      (IncrementalIndex.tags(ps) -- IncrementalIndex.tags(vs)).toSeq.sorted
    if (pending.isEmpty) return
    val perTag = pending.map(t => t -> IncrementalIndex.tagFiles(ps, t))
    val files = perTag.flatMap(_._2)
    // a pending tag with no surviving files is EITHER an empty batch
    // (harmless — mark it) or one whose rows a compaction already folded
    // into the base: with base files present the two are
    // indistinguishable, so rebuild exact from the live postings.
    // Tombstones are deliberately NOT subtracted — the dictionary
    // over-claims by design; a retired token's candidates find no
    // postings rows in the semi-join.
    val orphaned =
      perTag.exists(_._2.isEmpty) && IncrementalIndex.hasBaseFiles(ps)
    val delta =
      if (orphaned)
        Some(spark.read.parquet(ps.liveDir)
          .select(col("token")).distinct())
      else if (files.isEmpty) None // genuinely empty pending batches
      else Some(spark.read.option("basePath", ps.liveDir)
        .parquet(files: _*).select(col("token")).distinct())
    delta.foreach { d =>
      val foldTag = "fold-" + java.security.MessageDigest
        .getInstance("MD5")
        .digest(pending.mkString("\n").getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      IncrementalIndex.append(spark, vs, addTp(d), foldTag)
    }
    pending.foreach(IncrementalIndex.markTag(vs, _))
  }

  /** The persisted term dictionary, folded up to date first (see
    * [[foldVocab]]); None only when the index holds no tokens at all. */
  def loadVocab(spark: SparkSession, indexRoot: String, column: String)
  : Option[DataFrame] = {
    val vs = vocabSpec(indexRoot, column)
    foldVocab(spark, indexRoot, column)
    if (!IncrementalIndex.exists(vs)) None
    else Some(IncrementalIndex.load(spark, vs, "token").distinct())
  }

  /** Tombstone whole documents out of the index. */
  def delete(spark: SparkSession, indexRoot: String, column: String,
             ids: DataFrame, idCol: String, batchTag: String): Unit =
    IncrementalIndex.delete(spark, spec(indexRoot, column), ids, idCol,
      batchTag)

  /** Live postings view: base + appended files minus tombstoned docs. */
  def load(spark: SparkSession, indexRoot: String, column: String,
           idCol: String): DataFrame =
    IncrementalIndex.load(spark, spec(indexRoot, column), idCol)

  /** Fold tombstones in and merge append dust. Deliberately does NOT
    * bring the vocab up to date first: the dictionary is maintained
    * where it's READ ([[loadVocab]]), and pending tags whose files this
    * rewrite folds away are healed there by the exact-rebuild path — so
    * an ingest-and-compact pipeline that never probes the dictionary
    * never pays for it. The vocab's own dust (cross-fold duplicates)
    * still merges physically on the same protocol with a dedup
    * transform; a replay with nothing to fold no-ops at listing cost. */
  def compact(spark: SparkSession, indexRoot: String, column: String,
              idCol: String): Unit = {
    IncrementalIndex.compact(spark, spec(indexRoot, column), idCol)
    IncrementalIndex.compact(spark, vocabSpec(indexRoot, column), "token",
      transform = _.distinct())
  }
}
