package graft

import graft.operators.{Dedup, Similarity}
import graft.sources.{IncrementalIndex, JsonIndexLifecycle, TextIndexLifecycle}
import graft.testkit.FakeSchemeRawFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one incremental-index protocol under conditions no gate runs:
  * every crash state of an append or a compaction, rebuilt on disk by
  * the spec itself, must recover and replay to the clean run's rows; and
  * the whole lifecycle must run on URI roots (`file://`, a non-local
  * scheme) exactly as on a plain path. */
class IndexProtocolSpec extends SparkSpec {

  /** One index type on the protocol. `loc` is the index's root (its name,
    * for the app-scoped dedup index); batch `n` commits under tag `t<n>`,
    * the delete under `d1`. `rows` is the live view, one string per row,
    * sorted. */
  private case class Kind(name: String,
                          spec: String => IncrementalIndex.Spec,
                          fresh: String => Unit,
                          append: (String, Int) => Unit,
                          delete: String => Unit,
                          compact: String => Unit,
                          rows: String => Seq[String])

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // batch 3 re-adds id 2: a stale tombstone of d1 would hide it
  private val docRows = Map(
    1 -> Seq(1L -> "alpha beta", 2L -> "beta gamma", 3L -> "gamma delta",
      4L -> "alpha"),
    2 -> Seq(5L -> "delta eps", 6L -> "alpha beta", 7L -> "zeta",
      8L -> "eta theta"),
    3 -> Seq(2L -> "omega beta", 9L -> "alpha"))
  private val deletedIds = Seq(2L, 6L)

  private def docs(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    docRows(n).map { case (id, t) =>
      (id, t, s"""{"a":"x${id % 3}","b":$id}""")
    }.toDF("id", "text", "doc")
  }

  private def ids: DataFrame = {
    val s = spark
    import s.implicits._
    deletedIds.toDF("id")
  }

  private val jsonSchema = StructType.fromDDL("a string, b double")

  private val text = Kind("text",
    root => IncrementalIndex.Spec(root, "text_text", Some("tp")),
    TextIndexLifecycle.deleteRoot,
    (root, n) => TextIndexLifecycle.append(spark, root, "text", "id",
      docs(n), s"t$n"),
    root => TextIndexLifecycle.delete(spark, root, "text", ids, "id", "d1"),
    root => TextIndexLifecycle.compact(spark, root, "text", "id"),
    root => sorted(TextIndexLifecycle.load(spark, root, "text", "id")))

  private val json = Kind("json",
    root => IncrementalIndex.Spec(root, "json_doc", Some("path")),
    JsonIndexLifecycle.deleteRoot,
    (root, n) => JsonIndexLifecycle.append(spark, root, "doc", "id",
      jsonSchema, docs(n), s"t$n"),
    root => JsonIndexLifecycle.delete(spark, root, "doc", ids, "id", "d1"),
    root => JsonIndexLifecycle.compact(spark, root, "doc", "id"),
    root => sorted(JsonIndexLifecycle.load(spark, root, "doc", "id")))

  // two well-separated clusters, so every batch lands in both cells
  private def vecs(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    docRows(n).map { case (id, _) =>
      (id, if (id % 2 == 0) Array(10f + id / 10f, 0.5f)
           else Array(0.5f, 10f + id / 10f))
    }.toDF("id", "embedding")
  }

  private lazy val ivfBase = {
    val s = spark
    import s.implicits._
    Similarity.ivfIndex(Seq(
      (101L, Array(10f, 0f)), (102L, Array(11f, 2f)),
      (103L, Array(10.5f, 1f)), (104L, Array(0f, 10f)),
      (105L, Array(1f, 11f)), (106L, Array(0.5f, 10.5f)))
      .toDF("id", "embedding"), "id", "embedding", 2, cacheKey = None)
  }

  private val ivf = Kind("ivf",
    Similarity.ivfSpec,
    dir => { IncrementalIndex.rmTree(dir)
      Similarity.persistIvfIndex(ivfBase, dir) },
    (dir, n) => Similarity.appendIvfIndex(spark, dir, vecs(n), "id",
      "embedding", s"t$n"),
    dir => Similarity.deleteFromIvfIndex(spark, dir, ids, "id", "d1"),
    dir => Similarity.compactIvfIndex(spark, dir),
    dir => sorted(Similarity.loadIvfIndex(spark, dir).assigned))

  private val dedup = Kind("dedup",
    name => IncrementalIndex.Spec(GraftSession.appDir(spark, "dedup_idx"),
      name, Some("hp")),
    name => Dedup.dropIndex(spark, name),
    (name, n) => Dedup.incrementalExact(spark,
      docs(n).select("id", "text"), "text", "id", name,
      batchTag = Some(s"t$n")),
    name => Dedup.retireFromIndex(spark, name, ids, "id", "d1"),
    name => Dedup.compactIndex(spark, name),
    name => sorted(Dedup.loadIndex(spark, name)))

  private val kinds = Seq(text, json, ivf, dedup)

  // ---- on-disk state surgery (the spec's own file steps) -------------

  private def local(dir: String): Path = Paths.get(dir)

  private def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.toList.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally st.close()
  }

  private def dirsOf(s: IncrementalIndex.Spec): Seq[String] =
    Seq(s.liveDir, s.tagsDir, s.tombsDir, s.tmpDir, s.retiringDir,
      s.stagingRoot)

  /** Copy every existing protocol dir of `s` aside, under `to`. */
  private def snapshot(s: IncrementalIndex.Spec, to: String)
  : Map[String, Path] =
    dirsOf(s).filter(d => Files.isDirectory(local(d))).map { d =>
      val keep = Files.createTempDirectory(local(to), "snap").resolve("d")
      copyTree(local(d), keep)
      d -> keep
    }.toMap

  private def restore(s: IncrementalIndex.Spec, snap: Map[String, Path])
  : Unit = {
    IncrementalIndex.drop(s)
    snap.foreach { case (d, keep) => copyTree(keep, local(d)) }
  }

  /** Live data files of `tag`'s append (any partition depth). */
  private def tagFilesOf(s: IncrementalIndex.Spec, tag: String): Seq[Path] = {
    val st = Files.walk(local(s.liveDir))
    try st.iterator().asScala.toList.filter(p =>
      p.getFileName.toString.startsWith(s"tag-$tag-")).sortBy(_.toString)
    finally st.close()
  }

  /** Undo the move of `files` of `tag`: back into the tag's staging dir
    * under their staged names, partition subdirs kept. */
  private def unmove(s: IncrementalIndex.Spec, tag: String,
                     files: Seq[Path]): Unit = files.foreach { p =>
    val rel = local(s.liveDir).relativize(p.getParent)
    val dst = local(s"${s.stagingRoot}/$tag").resolve(rel)
    Files.createDirectories(dst)
    Files.move(p, dst.resolve(p.getFileName.toString.stripPrefix(s"tag-$tag-")))
  }

  private def unmark(s: IncrementalIndex.Spec, tag: String): Unit =
    Files.delete(local(s"${s.tagsDir}/$tag"))

  test("every crash state of an append or a compaction recovers and " +
    "replays to the clean run's rows: text, json, IVF, incremental dedup") {
    val base = Files.createTempDirectory("idxcrash").toString
    kinds.foreach { k =>
      val loc = if (k eq dedup) s"crash_${System.nanoTime()}"
        else s"$base/${k.name}"
      val sp = k.spec(loc)
      // clean run, snapshotting the states the crashes start from
      k.fresh(loc)
      k.append(loc, 1)
      k.append(loc, 2)
      val afterT2 = k.rows(loc)
      val t2Committed = snapshot(sp, base)
      k.delete(loc)
      val beforeCompact = snapshot(sp, base)
      k.compact(loc)
      val afterCompact = k.rows(loc)
      val compacted = snapshot(sp, base)
      k.append(loc, 3)
      val afterT3 = k.rows(loc)
      assert(afterT3 != afterCompact && afterT2.nonEmpty, k.name)

      // append of t2 interrupted: staged only, half moved, all moved
      // without the marker
      val appendCrashes = Seq[(String, Seq[Path] => Seq[Path])](
        "staged, nothing moved" -> identity,
        "half the staged files moved" -> (fs => fs.take(fs.size / 2)),
        "all moved, no marker" -> (_ => Nil))
      appendCrashes.foreach { case (state, backToStaging) =>
        restore(sp, t2Committed)
        val moved = tagFilesOf(sp, "t2")
        assert(moved.size >= 2, s"${k.name}: t2 must span several files")
        unmove(sp, "t2", backToStaging(moved))
        unmark(sp, "t2")
        IncrementalIndex.recover(sp)
        k.append(loc, 2)
        assert(k.rows(loc) == afterT2, s"${k.name} / $state")
        assert(tagFilesOf(sp, "t2").size == moved.size, s"${k.name} / $state")
      }

      // compaction interrupted around its two renames: the retiring dir
      // holds the pre-compaction live dir, its tombstones still present
      val compactCrashes = Seq[(String, () => Unit)](
        "between the two renames" -> (() =>
          Files.move(local(sp.liveDir), local(sp.tmpDir))),
        "after the renames, before cleanup" -> (() => ()))
      compactCrashes.foreach { case (state, unswap) =>
        restore(sp, compacted)
        unswap()
        copyTree(beforeCompact(sp.liveDir), local(sp.retiringDir))
        copyTree(beforeCompact(sp.tombsDir), local(sp.tombsDir))
        IncrementalIndex.recover(sp)
        assert(!Files.exists(local(sp.retiringDir)) &&
          !Files.exists(local(sp.tombsDir)), s"${k.name} / $state")
        k.compact(loc)
        assert(k.rows(loc) == afterCompact, s"${k.name} / $state")
        k.append(loc, 3)
        assert(k.rows(loc) == afterT3, s"${k.name} / $state")
      }
      IncrementalIndex.drop(sp)
    }
    IncrementalIndex.rmTree(base)
  }

  /** append, replayed append, delete, compact, replayed compact, append
    * — then the live rows (plus the text vocab, which reads per-tag
    * files back by path). */
  private def lifecycle(k: Kind, root: String): Seq[String] = {
    k.fresh(root)
    k.append(root, 1)
    k.append(root, 2)
    k.append(root, 2)
    k.delete(root)
    k.compact(root)
    k.compact(root)
    k.append(root, 3)
    val vocab = if (k eq text)
      TextIndexLifecycle.loadVocab(spark, root, "text").toSeq.flatMap(sorted)
      else Nil
    try k.rows(root) ++ vocab finally IncrementalIndex.rmTree(root)
  }

  test("two appends staged on one index both commit: a commit clears " +
    "only its own tag's staging dir") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("idxstage2").toString
    val sp = IncrementalIndex.Spec(root, "idx", None)
    assert(IncrementalIndex.stage(s, sp, Seq(1L -> "a").toDF("id", "v"),
      "A").isDefined)
    assert(IncrementalIndex.stage(s, sp, Seq(2L -> "b").toDF("id", "v"),
      "B").isDefined)
    IncrementalIndex.commitStaged(sp, "A")
    IncrementalIndex.commitStaged(sp, "B")
    assert(sorted(IncrementalIndex.load(s, sp, "id")) == Seq("[1,a]", "[2,b]"))
    assert(IncrementalIndex.tags(sp) == Set("A", "B"))
    assert(!Files.exists(Paths.get(sp.stagingRoot, "A")) &&
      !Files.exists(Paths.get(sp.stagingRoot, "B")))
    IncrementalIndex.rmTree(root)
  }

  test("URI roots: the text, json and IVF lifecycles on file:// and a " +
    "non-local scheme equal the plain-path run") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfake.impl", classOf[FakeSchemeRawFs].getName)
    try Seq(text, json, ivf).foreach { k =>
      val base = Files.createTempDirectory(s"idxuri_${k.name}").toString
      val plain = lifecycle(k, s"$base/plain")
      assert(plain.nonEmpty)
      assert(lifecycle(k, s"file://$base/file") == plain, k.name)
      assert(lifecycle(k, s"graftfake://$base/fake") == plain, k.name)
      IncrementalIndex.rmTree(base)
    } finally conf.unset("fs.graftfake.impl")
  }

  test("re-persisting an IVF index drops the old index's tombstones and " +
    "append tags") {
    val dir = Files.createTempDirectory("ivfrepersist").toString
    def live: Set[Long] = Similarity.loadIvfIndex(spark, dir).assigned
      .select("cand_id").collect().map(_.getLong(0)).toSet
    Similarity.persistIvfIndex(ivfBase, dir)
    Similarity.appendIvfIndex(spark, dir, vecs(1), "id", "embedding", "t1")
    Similarity.deleteFromIvfIndex(spark, dir,
      spark.range(103L, 104L).toDF("id"), "id", "d1")
    assert(!live.contains(103L) && live.contains(1L))
    Similarity.persistIvfIndex(ivfBase, dir)
    assert(live == Set(101L, 102L, 103L, 104L, 105L, 106L))
    Similarity.appendIvfIndex(spark, dir, vecs(1), "id", "embedding", "t1")
    assert(live == Set(101L, 102L, 103L, 104L, 105L, 106L, 1L, 2L, 3L, 4L))
    IncrementalIndex.rmTree(dir)
  }
}
