package graft

import graft.operators.{Dedup, Gapfill, Similarity, Upsert}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class OperatorsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("scan-free metadata aggregates match full scans (footer stats)") {
    import graft.operators.SegmentStats
    val path = s"$sfDir/lineitem.parquet"
    val li = spark.read.parquet(path)
    assert(SegmentStats.fastCount(spark, path) == li.count())
    val mm = SegmentStats.fastMinMaxLong(spark, path, "l_orderkey")
    val Array(lo, hi) = li
      .agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(mm.contains((lo, hi)))
  }

  test("gapfill fills missing buckets: previous-value and default") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1.0, 1L),
      ("a", ts("2024-01-01 02:00:00"), 3.0, 2L))
      .toDF("k", "bucket", "v", "n")
    val out = Gapfill.gapfill(df, "bucket", Seq("k"),
      ts("2024-01-01 00:00:00"), ts("2024-01-01 03:00:00"), 3600,
      Map("v" -> Gapfill.FillPrevious, "n" -> Gapfill.FillDefault(lit(0L))))
      .orderBy("bucket").collect()
    assert(out.length == 4)
    assert(out.map(_.getAs[Double]("v")).toSeq == Seq(1.0, 1.0, 3.0, 3.0))
    assert(out.map(_.getAs[Long]("n")).toSeq == Seq(1L, 0L, 2L, 0L))
  }

  test("upsert latestView keeps newest by comparison column") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10L, "old"), (1L, 20L, "new"), (2L, 5L, "only"))
      .toDF("pk", "cmp", "v")
    val out = Upsert.latestView(df, Seq("pk"), Seq("cmp"))
      .orderBy("pk").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("new", "only"))
  }

  test("upsert comparison ties resolve to the later-arrived row") {
    val s = spark
    import s.implicits._
    // same pk, same comparison value, distinct arrival order (offset):
    // the reference keeps the newer record on a tie
    // (ConcurrentMapPartitionUpsertMetadataManager: comparisonResult >= 0)
    val df = Seq(
      (1L, 10L, 100L, "first"), (1L, 10L, 101L, "second"),
      (1L, 10L, 102L, "third"), (1L, 9L, 103L, "late-but-older-cmp"),
      (2L, 7L, 104L, "solo"))
      .toDF("pk", "cmp", "offset", "v")
    // determinism across physical orderings: shuffle input partitioning
    for (reordered <- Seq(df, df.repartition(7), df.orderBy(col("v")))) {
      val out = Upsert.latestView(reordered, Seq("pk"), Seq("cmp"),
        arrivalCol = Some("offset")).orderBy("pk").collect()
      assert(out.map(_.getString(3)).toSeq == Seq("third", "solo"))
    }
    // deletes inherit the same tie rule: tied delete arriving later wins
    val delDf = Seq(
      (1L, 10L, 100L, "live", false), (1L, 10L, 101L, "del", true))
      .toDF("pk", "cmp", "offset", "v", "del")
    assert(Upsert.latestViewWithDeletes(delDf, Seq("pk"), Seq("cmp"), "del",
      arrivalCol = Some("offset")).count() == 0)
  }

  test("upsert delete-record column tombstones the key (no resurrection)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, 10L, "live-old", false), (1L, 20L, "deleted", true),
      (2L, 5L, "live", false),
      (3L, 1L, "deleted-then-relived", true), (3L, 2L, "relived", false))
      .toDF("pk", "cmp", "v", "del")
    val out = Upsert.latestViewWithDeletes(df, Seq("pk"), Seq("cmp"), "del")
      .orderBy("pk").collect()
    // pk=1: latest is a delete → gone (older live row must NOT resurrect);
    // pk=3: a later live write after the delete brings the key back
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((2L, "live"), (3L, "relived")))
    assert(!out.exists(_.schema.fieldNames.contains("del")))
  }

  test("partialUpsert strategies") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 30.0), (1L, 3L, 20.0))
      .toDF("pk", "cmp", "v")
      .select(col("pk"), col("cmp"), col("v").as("v_max"),
        col("v").as("v_first"), col("v").as("v_last"), col("v").as("v_app"))
    val out = Upsert.partialUpsert(df, Seq("pk"), "cmp", Map(
      "v_max" -> Upsert.MaxOf, "v_first" -> Upsert.Ignore,
      "v_last" -> Upsert.Overwrite, "v_app" -> Upsert.Append)).head()
    assert(out.getAs[Double]("v_max") == 30.0)
    assert(out.getAs[Double]("v_first") == 10.0)
    assert(out.getAs[Double]("v_last") == 20.0)
    assert(out.getAs[scala.collection.Seq[Double]]("v_app").toSeq ==
      Seq(10.0, 30.0, 20.0))
  }

  test("partialUpsert maxHistory caps APPEND/UNION to the latest n") {
    val s = spark
    import s.implicits._
    val df = (1L to 5L).map(i => (1L, i, i.toDouble))
      .toDF("pk", "cmp", "v")
      .select(col("pk"), col("cmp"), col("v").as("v_app"),
        col("v").as("v_uni"), col("v").as("v_sum"))
    val out = Upsert.partialUpsert(df, Seq("pk"), "cmp", Map(
      "v_app" -> Upsert.Append, "v_uni" -> Upsert.UnionOf,
      "v_sum" -> Upsert.Increment), maxHistory = Some(3)).head()
    // latest 3 by cmp, arrival order — deterministic
    assert(out.getAs[scala.collection.Seq[Double]]("v_app").toSeq ==
      Seq(3.0, 4.0, 5.0))
    assert(out.getAs[scala.collection.Seq[Double]]("v_uni").toSeq ==
      Seq(3.0, 4.0, 5.0))
    // scalar strategies still see the full history
    assert(out.getAs[Double]("v_sum") == 15.0)
    // cap wider than history: everything retained
    val all = Upsert.partialUpsert(df, Seq("pk"), "cmp",
      Map("v_app" -> Upsert.Append), maxHistory = Some(100)).head()
    assert(all.getAs[scala.collection.Seq[Double]]("v_app").toSeq ==
      (1 to 5).map(_.toDouble))
  }

  test("exact dedup groups identical content") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minHashPairs finds a synthesized near-duplicate") {
    val s = spark
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq((1L, base), (2L, base + " phi"), (3L, "totally different " +
      "words with no overlap at all whatsoever in any shingle"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(df, "text", "doc_id", 3, 4, 2).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 2L))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 3L))
  }

  test("clusters: transitive chaining, min-id labels, singleton isolation") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (1,4 never paired directly), separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("collapseClusters: keep-longest per component, singleton " +
    "passthrough, low-id tie-break") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "aa"), (2L, "aaaa"), (3L, "aaa"),   // cluster {1,2,3}: 2 longest
      (10L, "xx"), (11L, "xx"),                 // cluster {10,11}: tie -> 10
      (20L, "z")                                // singleton, survives
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    Dedup.cacheClear()
    val out = Dedup.collapseClusters(docs, pairs, "doc_id",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(2L, 10L, 20L))
    // survivors carry the full original row, no helper columns
    val cols = Dedup.collapseClusters(docs, pairs, "doc_id",
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text"))).columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("appendIvfIndex: no-retrain cell assignment, batch-tag " +
    "idempotency, twin-at-rank-1 probe") {
    val s = spark
    import s.implicits._
    // no two base vectors parallel (cosine strictly < 1 between distinct
    // originals, so the appended exact twin's cos 1.0 is a strict max)
    val base = Seq(
      (1L, Array(10f, 0f)), (2L, Array(11f, 2f)), (3L, Array(10.5f, 1f)),
      (4L, Array(0f, 10f)), (5L, Array(1f, 11f)), (6L, Array(0.5f, 10.5f))
    ).toDF("vec_id", "embedding")
    val dir = "target/graft_ivf_append_spec"
    graft.sources.IncrementalIndex.rmTree(dir)
    Similarity.persistIvfIndex(
      Similarity.ivfIndex(base, "vec_id", "embedding", 2, cacheKey = None),
      dir)
    // batch: an exact twin of vec 1 plus a vector near the second cluster
    val batch = Seq((100L, Array(10f, 0f)), (101L, Array(0f, 10.2f)))
      .toDF("vec_id", "embedding")
    Similarity.appendIvfIndex(s, dir, batch, "vec_id", "embedding", "t1")
    Similarity.appendIvfIndex(s, dir, batch, "vec_id", "embedding", "t1")
    val merged = Similarity.loadIvfIndex(s, dir)
    assert(merged.assigned.count() == 8L) // replay was a no-op
    // each appended vector shares its nearest original's cell
    val cellOf = merged.assigned.select("cand_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellOf(100L) == cellOf(1L) && cellOf(101L) == cellOf(4L))
    // probing with vec 1 surfaces its appended twin at rank 1, cos 1.0
    val top = Similarity.ivfTopKWith(merged,
        base.filter($"vec_id" === 1L), "vec_id", "embedding", 3, 1)
      .filter($"rk" === 1).collect().head
    assert(top.getAs[Long]("cand_id") == 100L &&
      top.getAs[Double]("cos") == 1.0)
    // a NEW tag does append
    Similarity.appendIvfIndex(s, dir,
      Seq((200L, Array(9f, 1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "t2")
    assert(Similarity.loadIvfIndex(s, dir).assigned.count() == 9L)
    graft.sources.IncrementalIndex.rmTree(dir)
  }

  test("IVF index lifecycle: delete tombstones immediately, compact folds " +
    "them in + merges append files, replay and mid-swap crash are safe") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, Array(10f, 0f)), (2L, Array(11f, 2f)), (3L, Array(10.5f, 1f)),
      (4L, Array(0f, 10f)), (5L, Array(1f, 11f)), (6L, Array(0.5f, 10.5f))
    ).toDF("vec_id", "embedding")
    val dir = "target/graft_ivf_lifecycle_spec"
    graft.sources.IncrementalIndex.rmTree(dir)
    Similarity.persistIvfIndex(
      Similarity.ivfIndex(base, "vec_id", "embedding", 2, cacheKey = None),
      dir)
    // append a twin of vec 1 and one more vector
    val batch = Seq((100L, Array(10f, 0f)), (101L, Array(0f, 10.2f)))
      .toDF("vec_id", "embedding")
    Similarity.appendIvfIndex(s, dir, batch, "vec_id", "embedding", "t1")
    // delete the twin: it must vanish from probes IMMEDIATELY (pre-compact)
    Similarity.deleteFromIvfIndex(s, dir,
      Seq(100L).toDF("vec_id"), "vec_id", "d1")
    val afterDel = Similarity.loadIvfIndex(s, dir)
    assert(afterDel.assigned.count() == 7L)
    val top1 = Similarity.ivfTopKWith(afterDel,
        base.filter($"vec_id" === 1L), "vec_id", "embedding", 3, 1)
      .filter($"rk" === 1).collect().head
    assert(top1.getAs[Long]("cand_id") != 100L)
    // replayed delete batch is a no-op (overwrite-idempotent)
    Similarity.deleteFromIvfIndex(s, dir,
      Seq(100L).toDF("vec_id"), "vec_id", "d1")
    assert(Similarity.loadIvfIndex(s, dir).assigned.count() == 7L)
    // compact: physical removal + tombstones cleared + files merged
    Similarity.compactIvfIndex(s, dir)
    assert(!new java.io.File(Similarity.ivfSpec(dir).tombsDir).isDirectory)
    assert(Similarity.loadIvfIndex(s, dir).assigned.count() == 7L)
    // compaction replay is harmless
    Similarity.compactIvfIndex(s, dir)
    assert(Similarity.loadIvfIndex(s, dir).assigned.count() == 7L)
    // append markers survive compaction: replaying t1 still no-ops, so
    // the deleted-then-compacted twin cannot resurrect via replay
    Similarity.appendIvfIndex(s, dir, batch, "vec_id", "embedding", "t1")
    assert(Similarity.loadIvfIndex(s, dir).assigned.count() == 7L)
    // a fresh append of a NEW twin lands and answers at rank 1, cos 1.0
    Similarity.appendIvfIndex(s, dir,
      Seq((200L, Array(10f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "t2")
    val top2 = Similarity.ivfTopKWith(Similarity.loadIvfIndex(s, dir),
        base.filter($"vec_id" === 1L), "vec_id", "embedding", 3, 1)
      .filter($"rk" === 1).collect().head
    assert(top2.getAs[Long]("cand_id") == 200L &&
      top2.getAs[Double]("cos") == 1.0)
    // mid-swap crash: simulate by re-staging a compact copy and removing
    // `assigned` (the state between the two renames); recovery at next
    // load must promote the staged copy intact
    val live = Similarity.loadIvfIndex(s, dir).assigned
    live.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned_compact_tmp")
    val retired = new java.io.File(s"$dir/assigned_retiring")
    assert(new java.io.File(s"$dir/assigned").renameTo(retired))
    val recovered = Similarity.loadIvfIndex(s, dir)
    assert(recovered.assigned.count() == 8L)
    assert(!retired.isDirectory)
    graft.sources.IncrementalIndex.rmTree(dir)
  }

  test("Profile.columns: null counting, exact ndv, typed min/max") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(1.5), Some("b")), (Some(2.5), None),
      (None, Some("a")), (Some(1.5), Some("c"))
    ).toDF("v", "t")
    val out = graft.operators.Profile.columns(df, Seq("v", "t"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = out("v")
    assert(v.getLong(1) == 4L && v.getLong(2) == 1L && v.getLong(3) == 2L)
    assert(v.getDouble(4) == 1.5 && v.getDouble(5) == 2.5)
    assert(v.isNullAt(6) && v.isNullAt(7))
    val t = out("t")
    assert(t.getLong(2) == 1L && t.getLong(3) == 3L)
    assert(t.isNullAt(4) && t.getString(6) == "a" && t.getString(7) == "c")
  }

  test("splitByCluster: clusters move as a unit, singletons keep their " +
    "hashSplit assignment") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val docs = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    Dedup.cacheClear()
    val splits = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val out = Sampling.splitByCluster(docs, pairs, "doc_id", splits)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("split")).toMap
    // every clustered doc shares its component's split (label = min id)
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(out(10L) == out(11L))
    // the cluster's split is the label's own hashSplit assignment, and
    // singletons are assigned exactly as plain hashSplit would
    val plain = Sampling.hashSplit(docs, "doc_id", splits)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("split")).toMap
    assert(out(1L) == plain(1L) && out(10L) == plain(10L))
    (12L to 30L).foreach(i => assert(out(i) == plain(i)))
    // schema: original columns + split, no helper columns
    assert(Sampling.splitByCluster(docs, pairs, "doc_id", splits)
      .columns.toSeq == Seq("doc_id", "text", "split"))
  }

  test("clustersStars: label parity with clusters on mixed components; " +
    "fewer rounds than label-prop on a deep chain") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // mixed fixture: chain, triangle (cycle), star, isolated pair,
    // duplicate edges in both orientations
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain
      (20L, 21L), (21L, 22L), (22L, 20L),    // triangle
      (30L, 31L), (30L, 32L), (30L, 33L),    // star
      (40L, 41L), (41L, 40L)                 // pair, both orientations
    ).toDF("id_a", "id_b")
    Dedup.cacheClear()
    val expected = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.clustersStars(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // deep chain: the alternating algorithm's edge-set collapse takes
    // strictly fewer rounds than label-prop's per-node pointer jumping
    val deep = (0L until 512L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (lp, lpRounds) = Dedup.labelPropWithRounds(deep, "id_a", "id_b", 50)
    val (st, stRounds) = Dedup.clustersStarsWithRounds(deep, "id_a", "id_b", 50)
    assert(lp.filter(col("label") =!= 0L).count() == 0L)
    assert(st.filter(col("label") =!= 0L).count() == 0L)
    assert(st.count() == 513L)
    info(s"deep-chain rounds: labelProp=$lpRounds stars=$stRounds")
    assert(stRounds < lpRounds,
      s"stars ($stRounds) not faster than label-prop ($lpRounds)")
  }

  test("clusters: long chain converges in O(log diameter) rounds") {
    val s = spark
    import s.implicits._
    // a 64-link chain: plain neighbor propagation needs 63 rounds; pointer
    // jumping must land well inside maxIter = 10
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Dedup.cacheClear()
    val out = Dedup.clusters(pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 65 && out.values.forall(_ == 0L),
      s"chain must fully collapse to label 0, got ${out.values.toSet}")
  }

  test("hashSplit: deterministic, partition-invariant, fraction-accurate") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val ids = (1L to 2000L).map(i => (i, s"doc$i")).toDF("id", "t")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.hashSplit(ids, "id", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    // same assignment regardless of partitioning
    val b = Sampling.hashSplit(ids.repartition(13), "id", splits)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(a.toMap == b.toMap)
    val byName = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(math.abs(byName("train") - 1600) < 100, s"train ${byName("train")}")
    assert(math.abs(byName("val") - 200) < 60)
    // a different salt reshuffles assignments
    val c = Sampling.hashSplit(ids, "id", splits, salt = "other")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(c.toMap != a.toMap)
    // fractions must not exceed 1
    intercept[IllegalArgumentException](
      Sampling.hashSplit(ids, "id", Seq("a" -> 0.7, "b" -> 0.7)))
  }

  test("packing: deterministic, offsets bounded, interior chunks exactly full") {
    val s = spark
    import s.implicits._
    import graft.operators.Packing
    val docs = (1L to 300L)
      .map(i => (i, Seq.fill((i % 17 + 1).toInt)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val budget = 64L
    val a = Packing.concatChunks(docs, "doc_id", "text", budget, nBuckets = 8)
    val b = Packing.concatChunks(docs.repartition(13), "doc_id", "text",
      budget, nBuckets = 8)
    val am = a.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(am == b.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap,
      "packing must not depend on input partitioning")
    // offsets bounded, chunks ordered
    a.collect().foreach { r =>
      val (n, sc, off, ec) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(off >= 0 && off < budget)
      assert(ec >= sc)
      if (n > 0) assert(ec == (sc * budget + off + n - 1) / budget)
    }
    // every chunk but the last is exactly full; total fill == total tokens
    val fill = Packing.chunkFill(a, budget).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val last = fill.keys.max
    fill.foreach { case (c, f) =>
      if (c < last) assert(f == budget, s"chunk $c filled $f != $budget")
      else assert(f > 0 && f <= budget)
    }
    val totalTokens = a.agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(fill.values.sum == totalTokens)
  }

  test("concatChunksOrdered packs in EXACTLY the given order: start " +
      "positions are the prefix sums of the order column's total order") {
    val s = spark
    import s.implicits._
    import graft.operators.{Packing, Sampling}
    val docs = (1L to 120L)
      .map(i => (i, Seq.fill((i % 13 + 1).toInt)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val shuffled = Sampling.epochShuffle(docs, "doc_id", epoch = 7)
    val packed = Packing.concatChunksOrdered(shuffled, "doc_id", "text",
      "shuffle_pos", budget = 50L, nBuckets = 8)
    // sequential reference: walk docs in shuffle_pos order, accumulate
    val order = shuffled.select("doc_id", "shuffle_pos").collect()
      .map(r => (r.getLong(1), r.getLong(0))).sortBy(_._1).map(_._2)
    val nTok = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length.toLong)
      .toMap
    var pos = 0L
    val expected = order.map { id =>
      val start = pos; pos += nTok(id)
      id -> (start / 50, start % 50, math.max(start / 50, (pos - 1) / 50))
    }.toMap
    val got = packed.collect().map(r => r.getLong(0) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expected)
    // and the composition is partition-invariant end to end
    val packed13 = Packing.concatChunksOrdered(
      Sampling.epochShuffle(docs.repartition(13), "doc_id", epoch = 7),
      "doc_id", "text", "shuffle_pos", budget = 50L, nBuckets = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(packed13 == got)
  }

  test("packExamples: hand-checked FFD windows, oversize items own a " +
      "window, boundaries tile, groups independent, partition-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Packing
    val items = Seq(
      ("a", 1L, 6L), ("a", 2L, 5L), ("a", 3L, 4L), ("a", 4L, 4L),
      ("a", 5L, 2L), ("a", 6L, 12L), // oversize vs capacity 10
      ("b", 7L, 3L)).toDF("grp", "id", "len")
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.packExamples(df, "id", "len", "grp", capacity = 10L)
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[String]("grp"), r.getAs[Long]("bin"),
            r.getAs[Long]("slot"), r.getAs[Long]("start_off"),
            r.getAs[Long]("end_off"))).toMap
    val got = run(items)
    // FFD order in 'a': 12(id6) 6(id1) 5(id2) 4(id3) 4(id4) 2(id5)
    assert(got(6L) == (("a", 0L, 0L, 0L, 12L))) // oversize: own window
    assert(got(1L) == (("a", 1L, 0L, 0L, 6L)))
    assert(got(3L) == (("a", 1L, 1L, 6L, 10L))) // first fit into bin 1
    assert(got(2L) == (("a", 2L, 0L, 0L, 5L)))
    assert(got(4L) == (("a", 2L, 1L, 5L, 9L)))
    assert(got(5L) == (("a", 3L, 0L, 0L, 2L))) // nothing had room ≥ 2
    assert(got(7L) == (("b", 0L, 0L, 0L, 3L))) // groups independent
    // id dtype survives the round trip (long in, long out)
    assert(Packing.packExamples(items, "id", "len", "grp", 10L)
      .schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // determinism at any parallelism
    assert(run(items.repartition(7)) == got)
    // non-oversize windows never exceed capacity
    val fills = Packing.packExamples(items, "id", "len", "grp", 10L)
      .groupBy(col("grp"), col("bin"))
      .agg(sum(col("len")).as("fill"), max(col("len")).as("mx"))
      .collect()
    fills.foreach { r =>
      assert(r.getAs[Long]("fill") <= 10L || r.getAs[Long]("mx") > 10L)
    }
  }

  test("semanticChain/semanticOrder: greedy NN walk is hand-checkable, " +
      "zero-norm vectors go last, buckets independent, ctx_pos stacks " +
      "buckets in string order, partition-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Layout
    val rows = Seq(
      ("x", "a", Array(1f, 0f)),
      ("x", "b", Array(-1f, 0.05f)),
      ("x", "c", Array(0.9f, 0.1f)),
      ("x", "z", Array(0f, 0f)), // zero norm: cosine −999, visited last
      ("y", "q", Array(1f, 1f))).toDF("bucket", "id", "vec")
    def run(df: org.apache.spark.sql.DataFrame) =
      Layout.semanticOrder(df, "id", "vec", "bucket")
        .collect().map(r => r.getAs[String]("id") ->
          (r.getAs[Long]("chain_pos"), r.getAs[Long]("ctx_pos"))).toMap
    val got = run(rows)
    // walk in x: start min-id a → nearest c (cos≈0.994) → b → z
    assert(got("a") == ((1L, 0L)))
    assert(got("c") == ((2L, 1L)))
    assert(got("b") == ((3L, 2L)))
    assert(got("z") == ((4L, 3L)))
    // bucket y stacks after x (string order), its own chain restarts
    assert(got("q") == ((1L, 4L)))
    // deterministic at any parallelism
    assert(run(rows.repartition(5)) == got)
    // ctx_pos is a dense total order
    assert(got.values.map(_._2).toSeq.sorted == (0L to 4L))
  }

  test("shardByTokens: docs whole, shard sizes budget ± one doc, " +
      "partition-invariant; writeShards round-trips partitioned by shard") {
    val s = spark
    import s.implicits._
    import graft.operators.Packing
    val docs = (1L to 400L)
      .map(i => (i, Seq.fill((i % 23 + 1).toInt)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val budget = 100L
    val a = Packing.shardByTokens(docs, "doc_id", "text", budget,
      nBuckets = 8)
    val b = Packing.shardByTokens(docs.repartition(11), "doc_id", "text",
      budget, nBuckets = 8)
    val am = a.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(am.toSet ==
      b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "shard assignment must not depend on input partitioning")
    // each doc appears exactly once; shards contiguous from 0
    assert(am.map(_._1).distinct.length == 400)
    val byShard = am.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val shards = byShard.keys.toSeq.sorted
    assert(shards == (0L to shards.max).toSeq, s"gap in shards: $shards")
    // interior shards hold ≥ budget − (maxDoc−1) and < budget + maxDoc
    // tokens (greedy by start position, docs never split)
    val maxDoc = 23L
    shards.dropRight(1).foreach { sh =>
      val tot = byShard(sh)
      assert(tot > budget - maxDoc && tot < budget + maxDoc,
        s"shard $sh holds $tot tokens (budget $budget)")
    }
    // write path: partitioned layout, full round-trip
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    Packing.writeShards(docs, "doc_id", "text", budget, out, nBuckets = 8)
    val back = spark.read.parquet(out)
    assert(back.count() == 400)
    assert(back.columns.toSet == Set("doc_id", "text", "shard"))
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("shard=")))
    // written shard column matches the assignment
    val wm = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(wm == am.map(t => t._1 -> t._3).toMap)
  }

  test("incrementalMinHash: cross-batch near-dups drop via the persisted " +
      "band index; within-batch greedy; index accumulates") {
    val s = spark
    import s.implicits._
    Dedup.dropIndex(s, "tincn")
    def doc(i: Long, body: String) = (i, body)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b1 = Seq(
      doc(1L, base),
      doc(2L, "totally different words about completely other topics here"),
      // near-dup of doc 1 within batch 1 (greedy: 3 drops, 1 survives)
      doc(3L, base + " lambda")).toDF("doc_id", "text")
    val out1 = Dedup.incrementalMinHash(s, b1, "text", "doc_id", "tincn",
      minAgree = 0.75)
    assert(out1.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    // batch 2: a near-dup of doc 1 (cross-batch, must drop), a fresh doc,
    // and a near-dup pair within batch 2 (the larger id drops)
    val b2 = Seq(
      doc(10L, "beta gamma delta epsilon zeta eta theta iota kappa"),
      doc(11L, "entirely novel content that matches nothing else at all"),
      doc(12L, "some repeated sentence structure for the pair test okay"),
      doc(13L, "some repeated sentence structure for the pair test okay"))
      .toDF("doc_id", "text")
    val out2 = Dedup.incrementalMinHash(s, b2, "text", "doc_id", "tincn",
      minAgree = 0.75)
    assert(out2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(11L, 12L))
    // batch 3: near-dup of batch-2 survivor 12 — the index accumulated
    val b3 = Seq(
      doc(20L, "some repeated sentence structure for the pair test okay"),
      doc(21L, "yet another genuinely unique document body right here"))
      .toDF("doc_id", "text")
    val out3 = Dedup.incrementalMinHash(s, b3, "text", "doc_id", "tincn",
      minAgree = 0.75)
    assert(out3.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(21L))
    // the index is a prefix-partitioned directory (pruned probes)
    val dir = new java.io.File(s"/tmp/graft-warehouse/apps/" +
      s"${s.sparkContext.applicationId}/dedup_idx/tincn")
    assert(dir.isDirectory &&
      dir.listFiles().exists(_.getName.startsWith("hp=h")))
    Dedup.dropIndex(s, "tincn")
    assert(!dir.isDirectory)
  }

  test("Vocab.build: deterministic tie order, rank dense, minCount floor") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a b c d"),
      (3L, "e e e e")).toDF("doc_id", "text")
    val v = Vocab.build(docs, "text", "doc_id", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // counts: b=4, e=4, a=3, c=2, d=1 — tie b/e breaks on token asc
    assert(v.toSeq == Seq(("b", 4L, 2L, 1), ("e", 4L, 1L, 2),
      ("a", 3L, 2L, 3)))
    val floored = Vocab.build(docs, "text", "doc_id", k = 10, minCount = 2L)
      .collect().map(_.getString(0))
    assert(floored.toSeq == Seq("b", "e", "a", "c"))
  }

  test("bpeMerges: weighted pair counts, greedy merge, deterministic ties") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    // classic corpus: low×3, lower×2, newest×1
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lower"),
      (3L, "newest")).toDF("doc_id", "text")
    val m = Vocab.bpeMerges(docs, "text", n = 3).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // r1: (l,o)=5 ties (o,w)=5 → encoded-pat tie-break picks (l,o)
    // r2: (lo,w)=5   r3: (e,r)=2 ties (low,e)=2 → 'e' < 'low'
    assert(m.toSeq == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "e", "r", 2L)))

    // partition invariance
    val m7 = Vocab.bpeMerges(docs.repartition(7), "text", n = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m7.toSeq == m.toSeq)

    // merge application is greedy left-to-right: "aaa" merges the first
    // overlapping pair only → [aa, a], so (a,a) counts 2 pre-merge and
    // the round-2 winner over "aaa"×1 is (aa,a)
    val mm = Vocab.bpeMerges(Seq((1L, "aaa")).toDF("doc_id", "text"),
      "text", n = 2).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(mm.toSeq == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("bpeMergesLocal: identical output to the distributed loop; a " +
      "10k-merge train is one Spark job; truncation/pruning knobs") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    val docs = Seq(
      (1L, "low low low"), (2L, "lower lower"), (3L, "newest"),
      (4L, "aaa aaa bb")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    // exact parity with the distributed oracle-mode loop, incl. ties and
    // overlapping-pair greedy application
    assert(rows(Vocab.bpeMergesLocal(docs, "text", n = 6)) ==
      rows(Vocab.bpeMerges(docs, "text", n = 6)))
    // parity on the real corpus head
    val real = Tables.documents(spark, sfDir).limit(60)
    assert(rows(Vocab.bpeMergesLocal(real, "text", n = 5)) ==
      rows(Vocab.bpeMerges(real, "text", n = 5)))
    // a 10k-merge production train: ONE Spark job (the word-frequency
    // collect), local loop to exhaustion, merged symbols well-formed
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val big = Vocab.bpeMergesLocal(Tables.documents(spark, sfDir),
        "text", n = 10000)
      val got = big.collect()
      org.apache.spark.graft.ListenerBusAccess
        .waitUntilEmpty(spark.sparkContext, 2000)
      // the training itself is 1 job; toDF+collect of the result adds ~1
      assert(jobs.get() <= 3, s"${jobs.get()} jobs for a local-tier train")
      // sf0.001's vocabulary exhausts well before 10k merges — the gate
      // is that training RAN to exhaustion in one job, not the count
      assert(got.length > 50, s"only ${got.length} merges trained")
      val roundsSeen = got.map(_.getInt(0)).toSeq.sorted
      assert(roundsSeen == (1 to got.length))
      // counts are non-increasing in a valid exhaustion run? (not true in
      // general for BPE — formed symbols create new high-count pairs; just
      // sanity-check positivity and well-formed symbols)
      assert(got.forall(_.getLong(3) > 0L))
      assert(got.forall(r => r.getString(1).nonEmpty &&
        r.getString(2).nonEmpty))
    } finally spark.sparkContext.removeSparkListener(listener)
    // knobs: maxWords truncation keeps the top words deterministically,
    // minFreq prunes — both still train
    val pruned = Vocab.bpeMergesLocal(docs, "text", n = 2,
      maxWords = 2, minFreq = 2L)
    assert(pruned.count() == 2L)
  }

  test("bpeEncode: training data re-encodes to training segmentation; " +
      "expression and UDF tiers agree; pass-through for non-word tokens") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lower"),
      (3L, "newest")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val enc = Vocab.bpeEncode(docs, "text", merges)
      .orderBy("doc_id").collect()
      .map(_.getSeq[String](2))
    assert(enc(0) == Seq("low", "low", "low"))
    assert(enc(1) == Seq("low", "er", "low", "er"))
    assert(enc(2) == Seq("n", "e", "w", "e", "s", "t"))

    // distinct-word broadcast tier (exprChainMax = 0 forces it) produces
    // identical output — same merge loop, run once per distinct word
    val encU = Vocab.bpeEncode(docs, "text", merges, exprChainMax = 0)
      .orderBy("doc_id").collect().map(_.getSeq[String](2))
    assert(encU.toSeq.map(_.toSeq) == enc.toSeq.map(_.toSeq))

    // join-regroup tier (vocab "too large" to broadcast) also agrees,
    // including tokens outside wordPattern (they miss the vocab join and
    // pass through whole) and multi-token order preservation
    val encJ = Vocab.bpeEncode(docs, "text", merges, exprChainMax = 0,
        broadcastVocabMax = 0L)
      .orderBy("doc_id").collect().map(_.getSeq[String](2))
    assert(encJ.toSeq.map(_.toSeq) == enc.toSeq.map(_.toSeq))
    val mixedJ = Vocab.bpeEncode(
      Seq((1L, "low C++! lower"), (2L, ""), (3L, "low low")).toDF("doc_id", "text"),
      "text", merges, exprChainMax = 0, broadcastVocabMax = 0L)
      .orderBy("doc_id").collect().map(_.getSeq[String](2))
    assert(mixedJ(0) == Seq("low", "c++!", "low", "er"))
    assert(mixedJ(1) == Seq.empty[String])
    assert(mixedJ(2) == Seq("low", "low"))

    // tokens outside wordPattern pass through unsegmented
    val mixed = Vocab.bpeEncode(
      Seq((1L, "low C++!")).toDF("doc_id", "text"), "text", merges)
      .head().getSeq[String](2)
    assert(mixed == Seq("low", "c++!"))
  }

  test("bpeEncode codegen kernel is byte-equal to the HOF replace chain") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    // adversarial fixtures for the rank-walk's ordering semantics:
    //  - (b,c) before (a,bc): sequential replay must NOT apply a merge
    //    whose pair only forms via a LATER merge... and the reverse
    //    order where rank 1 (b,c) enables rank 2 (a,bc)
    //  - (a,a) on runs: leftmost non-overlapping within one pass
    //  - repeated pair at two ranks: the second rank sees pairs the
    //    first pass created downstream
    val cases = Seq(
      (Seq(("a", "bc"), ("b", "c")), "abc abcabc aabc"),
      (Seq(("b", "c"), ("a", "bc")), "abc abcabc"),
      (Seq(("a", "a")), "aaa aaaa aaaaa a"),
      (Seq(("a", "a"), ("aa", "a"), ("a", "a")), "aaaaaa aaa"),
      (Seq(("a", "b"), ("ab", "ab"), ("c", "abab")), "ababab cababab"),
      (Seq(("0", "1"), ("l", "o"), ("lo", "w")), "low 01low lower 0101"))
    for ((merges, text) <- cases; mark <- Seq(false, true)) {
      val df = Seq((1L, text), (2L, ""), (3L, "  " + text + " ")).toDF("doc_id", "text")
      val got = Vocab.bpeEncode(df, "text", merges, markWordEnd = mark)
        .orderBy("doc_id").collect().map(_.getSeq[String](2).toList).toList
      val want = df.withColumn("subwords", Vocab.bpeEncodeHofColumn(
          col("text"), merges, "^[a-z0-9]+$", mark))
        .orderBy("doc_id").collect().map(_.getSeq[String](2).toList).toList
      assert(got == want, s"merges=$merges mark=$mark")
    }
    // pipe/space pathology: the kernel must fall back to the literal
    // pipe replay and still match the HOF chain byte-for-byte (a '|'
    // word aliases the pipe encoding identically in both)
    val weird = Seq((1L, "a|b ab a||b"), (2L, "|a| |"))
      .toDF("doc_id", "text")
    for (merges <- Seq(Seq(("a", "b")), Seq(("|", "a")), Seq(("a", "|b")));
         pat <- Seq("^[ab|]+$", ".")) {
      val got = Vocab.bpeEncode(weird, "text", merges, wordPattern = pat)
        .orderBy("doc_id").collect().map(_.getSeq[String](2).toList).toList
      val want = weird.withColumn("subwords", Vocab.bpeEncodeHofColumn(
          col("text"), merges, pat, markWordEnd = false))
        .orderBy("doc_id").collect().map(_.getSeq[String](2).toList).toList
      assert(got == want, s"merges=$merges pat=$pat")
    }
    // line terminators that survive the \s tokenizer — U+0085, U+2028,
    // U+2029: the reference's regexp_replace(w, "(.)", …) leaves them
    // un-piped (Java '.' excludes them) and `$` matches before a final
    // one, so "abc" + U+2028 encodes to [ab, c, ""], not [ab, c, U+2028]
    val lt = Seq((1L, "abc\u2028 a\u2028b \u0085ab ab\u2029ab\u2029"),
      (2L, "ab\u2028\u2028 \u2029 x\u2028\u0085y|"))
      .toDF("doc_id", "text")
    for (merges <- Seq(Seq(("a", "b")), Seq(("a", "b"), ("ab", "c")),
           Seq(("|", "a")));
         pat <- Seq("^[a-z0-9]+$", "."); mark <- Seq(false, true)) {
      val got = Vocab.bpeEncode(lt, "text", merges, wordPattern = pat,
          markWordEnd = mark)
        .orderBy("doc_id").collect().map(_.getSeq[String](2).toList).toList
      val want = lt.withColumn("subwords", Vocab.bpeEncodeHofColumn(
          col("text"), merges, pat, mark))
        .orderBy("doc_id").collect().map(_.getSeq[String](2).toList).toList
      assert(got == want, s"merges=$merges pat=$pat mark=$mark")
    }
    assert(Vocab.bpeEncode(Seq((1L, "abc\u2028")).toDF("doc_id", "text"),
      "text", Seq(("a", "b"))).head().getSeq[String](2) == Seq("ab", "c", ""))
    // fixture corpus under learned merges: the production shape
    val docs = Tables.documents(spark, sfDir)
    val learned = Vocab.bpeMergesLocal(docs, "text", n = 8)
      .orderBy("round").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val gotC = Vocab.bpeEncode(docs, "text", learned, markWordEnd = true)
      .orderBy("doc_id").select(col("subwords"))
      .collect().map(_.getSeq[String](0).toList).toList
    val wantC = docs.withColumn("subwords", Vocab.bpeEncodeHofColumn(
        col("text"), learned, "^[a-z0-9]+$", markWordEnd = true))
      .orderBy("doc_id").select(col("subwords"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(gotC == wantC)
  }

  test("oovFraction: per-doc coverage vs vocab, empty-doc nulls") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    val docs = Seq(
      (1L, "a a b x"),   // vocab {a, b} → 1/4 oov
      (2L, "x y"),       // 2/2 oov
      (3L, "")).toDF("doc_id", "text")
    val vocab = Seq("a", "b").toDF("token")
    val r = Vocab.oovFraction(docs, "text", "doc_id", vocab)
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 4 && r(0).getLong(2) == 1 &&
      r(0).getDouble(3) == 0.25)
    assert(r(1).getLong(1) == 2 && r(1).getLong(2) == 2 &&
      r(1).getDouble(3) == 1.0)
    assert(r(2).getLong(1) == 0 && r(2).getLong(2) == 0 && r(2).isNullAt(3))
  }

  test("coocCounts: window pairs both directions, distance weights, " +
      "symmetric counts") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val m = Vocab.coocCounts(docs, "text", window = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // d=1: (a,b) (b,c) + mirrors at weight 1e6; d=2: (a,c) + mirror at 5e5
    assert(m(("a", "b")) == (1L, 1000000L))
    assert(m(("b", "c")) == (1L, 1000000L))
    assert(m(("a", "c")) == (1L, 500000L))
    assert(m(("c", "a")) == (1L, 500000L))
    assert(m.size == 6)
    // symmetry of counts over a larger corpus
    val docs2 = Seq((1L, "x y z y x y")).toDF("doc_id", "text")
    val mm = Vocab.coocCounts(docs2, "text", window = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    mm.foreach { case ((w1, w2), c) => assert(mm((w2, w1)) == c) }
  }

  test("lmScore: hand-computed bigram cross-entropy, short docs null, " +
      "partition invariance") {
    val s = spark
    import s.implicits._
    import graft.operators.LmQuality
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a a"),
      (3L, "a")).toDF("doc_id", "text")
    // c12: (a,b)=2 (b,a)=1 (a,a)=1; c1: a=3 b=1; V=2
    // p(b|a)=(2+1)/(3+2)=0.6  p(a|b)=(1+1)/(1+2)=2/3  p(a|a)=(1+1)/(3+2)=0.4
    // u: ln0.6→-510826  ln(2/3)→-405465  ln0.4→-916291
    val r = LmQuality.lmScore(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 3 &&
      r(0).getLong(2) == -510826L * 2 - 405465L)
    assert(math.abs(r(0).getDouble(3) - 0.475706) < 1e-9)
    assert(r(1).getLong(1) == 1 && r(1).getLong(2) == -916291L)
    assert(math.abs(r(1).getDouble(3) - 0.916291) < 1e-9)
    assert(r(2).getLong(1) == 0 && r(2).isNullAt(2) && r(2).isNullAt(3))

    val r7 = LmQuality.lmScore(docs.repartition(7), "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r7.map(x => (x.getLong(0), x.getLong(1))).toSeq ==
      r.map(x => (x.getLong(0), x.getLong(1))).toSeq)
    assert(r7(0).getLong(2) == r(0).getLong(2))
  }

  test("lmScore: V counts tokens that appear ONLY in 1-token docs " +
      "(vocabulary derivation from the pair table + singletons)") {
    // optimization-round pin: V now derives from c12's endpoint vocab ∪
    // single-token docs instead of a full unigram distinct — a token
    // seen ONLY as a 1-token doc ('q') must still widen V
    val s = spark
    import s.implicits._
    import graft.operators.LmQuality
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a a"),
      (3L, "a"),
      (4L, "q")).toDF("doc_id", "text")
    // c12: (a,b)=2 (b,a)=1 (a,a)=1; c1: a=3 b=1; V=3 (a, b, q)
    // p(b|a)=(2+1)/(3+3)=0.5  p(a|b)=(1+1)/(1+3)=0.5  p(a|a)=2/6=1/3
    // u: ln0.5→-693147  ln(1/3)→-1098612
    val r = LmQuality.lmScore(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 3 && r(0).getLong(2) == -693147L * 3)
    assert(math.abs(r(0).getDouble(3) - 0.693147) < 1e-9)
    assert(r(1).getLong(1) == 1 && r(1).getLong(2) == -1098612L)
    assert(r(2).getLong(1) == 0 && r(2).isNullAt(2))
    assert(r(3).getLong(1) == 0 && r(3).isNullAt(2))
  }

  test("bm25: rarer terms and shorter docs score higher; tf grows score") {
    val s = spark
    import s.implicits._
    import graft.operators.HybridTable
    val docs = Seq(
      (1L, "rare common common common"),
      (2L, "rare rare common common"),
      (3L, "common common common common common common common common"),
      (4L, "rare filler filler filler filler filler filler filler"),
      (5L, "unique common filler filler")).toDF("doc_id", "text")
    val idx = docs.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.tokens(col("text")))
        .as("token"))
    val scores = HybridTable.bm25(idx, "doc_id", 5L).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    // same doc, same tf: the rarer term (df 1 vs 4) outscores
    assert(scores((5L, "unique")) > scores((5L, "common")))
    // higher tf of the same term in an equal-length doc scores higher
    assert(scores((2L, "rare")) > scores((1L, "rare")))
    // same term, same tf: the shorter doc scores higher (length norm)
    assert(scores((1L, "rare")) > scores((4L, "rare")))
  }

  test("sampleByHash: supersets nest, mixSources hits per-source targets") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val df = (1L to 3000L)
      .map(i => (i, s"src${i % 3}")).toDF("id", "source")
    // monotone: a larger fraction keeps a superset of a smaller one
    val small = Sampling.sampleByHash(df, "id", 0.2)
      .select("id").collect().map(_.getLong(0)).toSet
    val big = Sampling.sampleByHash(df, "id", 0.6)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
    assert(math.abs(small.size - 600) < 120 && math.abs(big.size - 1800) < 200)
    // per-source mixing: targets hit per source, absent sources at default
    val mixed = Sampling.mixSources(df, "id", "source",
      Map("src0" -> 0.5, "src1" -> 0.1))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(mixed("src0") - 500) < 120, s"src0 ${mixed("src0")}")
    assert(math.abs(mixed("src1") - 100) < 60, s"src1 ${mixed("src1")}")
    assert(mixed("src2") == 1000, "default weight 1.0 keeps everything")
    intercept[IllegalArgumentException](
      Sampling.mixSources(df, "id", "source", Map("src0" -> 1.5)))
  }

  test("flaggedSemantic/cleanSemantic: benchmark clones and near-dups " +
      "drop at the cut, the honest band survives") {
    val s = spark
    import s.implicits._
    import graft.operators.Decontaminate
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)), // exact bench clone → drops
      (1L, Array(0.999f, 0.01f, 0f)), // paraphrase neighborhood → drops
      (2L, Array(0.7f, 0.7f, 0f)), // cos ≈ .707 < cut → survives
      (3L, Array(0f, 1f, 0f))).toDF("id", "vec")
    val bench = Seq(Tuple1(Array(1f, 0f, 0f))).toDF("bvec")
    val flagged = Decontaminate.flaggedSemantic(corpus, "id", "vec",
      bench, "bvec", cut = 0.95).collect().map(_.getLong(0)).toSet
    assert(flagged == Set(0L, 1L))
    val clean = Decontaminate.cleanSemantic(corpus, "id", "vec",
      bench, "bvec", cut = 0.95).collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))
  }

  test("zero-norm vectors are never flagged or ranked (cosine → NULL, " +
      "not NaN; ADVICE r14)") {
    val s = spark
    import s.implicits._
    import graft.operators.Decontaminate
    // unguarded dot/(n1·n2) gives 0/0 = NaN, and NaN >= cut is TRUE in
    // Spark's ordering — a zero embedding would read as contaminated
    // and outrank every real match
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)), // clone → flagged
      (1L, Array(0f, 0f, 0f)), // zero vector → must NOT flag
      (2L, Array(0f, 1f, 0f))).toDF("id", "vec")
    val bench = Seq(Tuple1(Array(1f, 0f, 0f))).toDF("bvec")
    val flagged = Decontaminate.flaggedSemantic(corpus, "id", "vec",
      bench, "bvec", cut = 0.95).collect().map(_.getLong(0)).toSet
    assert(flagged == Set(0L))
    // hardNegatives: the zero vector can neither rank nor dup-exclude
    val anchors = corpus.filter(col("id") === 0L)
    val got = Similarity.hardNegatives(corpus, anchors, "id", "vec",
        k = 3, dupCut = 0.95)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(2L)) // zero vector absent, orthogonal ranks
    // the SQL surface inherits the guard
    val c = Seq((Array(0f, 0f), Array(1f, 0f))).toDF("a", "b")
      .select(graft.functions.Vectors.cosine(col("a"), col("b")))
      .collect()(0)
    assert(c.isNullAt(0))
  }

  test("hardNegatives: near-duplicates above the cut are excluded, the " +
      "honest band ranks by cosine; cells tier ≡ brute at full probe") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), // anchor
      (1L, Array(0.999f, 0.01f, 0f)), // near-dup (cos ≈ 1) → excluded
      (2L, Array(0.7f, 0.7f, 0f)), // hard negative (cos ≈ .707)
      (3L, Array(0f, 1f, 0f)), // orthogonal
      (4L, Array(-1f, 0f, 0f))) // opposite
      .toDF("id", "vec")
    val anchors = vecs.filter(col("id") === 0L)
    val got = Similarity.hardNegatives(vecs, anchors, "id", "vec",
        k = 2, dupCut = 0.95)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(1), r.getInt(3))).toSeq
    // clone excluded; hard negative first, orthogonal second
    assert(got == Seq((2L, 1), (3L, 2)))
    // cells tier with nProbe = nCells degenerates to brute
    val cells = Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f))
    val ivf = Similarity.hardNegativesCells(vecs, anchors, "id", "vec",
        cells, nProbe = 2, k = 2, dupCut = 0.95)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(ivf == got)
    // pruned probe (nProbe = 1): only the anchor's own cell is mined
    val pruned = Similarity.hardNegativesCells(vecs, anchors, "id",
        "vec", cells, nProbe = 1, k = 2, dupCut = 0.95)
      .collect().map(_.getLong(1)).toSet
    // 3 and 4 assign to cell 1 (d² from (-1,0,0): cell0 4, cell1 2) —
    // outside the anchor's single probed cell, so only 2 survives
    assert(pruned == Set(2L))
  }

  test("takeTokenBudget: budgets bound kept prefixes, overshoot is one " +
      "document, budgets nest, zero/absent sources drop, " +
      "layout-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val df = (1L to 300L)
      .map(i => (i, s"src${i % 3}", ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("id", "source", "text")
    def kept(budgets: Map[String, Long], parts: Int = 4): Seq[Row] =
      Sampling.takeTokenBudget(df.repartition(parts), "id", "source",
        "text", budgets, nBuckets = 8).orderBy(col("id")).collect().toSeq
    val g = kept(Map("src0" -> 50L, "src1" -> 1000000L, "src2" -> 0L))
    val bySrc = g.groupBy(_.getString(1))
    // zero budget and absent-from-map sources keep nothing
    assert(!bySrc.contains("src2"))
    // unbounded budget keeps the whole source, prefix positions exact
    val s1 = bySrc("src1")
    assert(s1.size == 100)
    assert(s1.map(_.getLong(2)).sum ==
      (1L to 300L).filter(_ % 3 == 1).map(_ % 7 + 1).sum)
    // every kept doc starts under budget; all but the last fit whole
    val s0 = bySrc("src0").sortBy(_.getLong(3))
    assert(s0.forall(_.getLong(3) < 50L))
    assert(s0.init.forall(r => r.getLong(3) + r.getLong(2) <= 50L) ||
      s0.last.getLong(3) + s0.last.getLong(2) >= 50L)
    // tok_start is the running sum of the kept order
    assert(s0.sliding(2).forall {
      case Seq(a, b) => b.getLong(3) == a.getLong(3) + a.getLong(2)
      case _ => true
    })
    // budgets nest: B ⊂ B' keeps a prefix-subset
    val small = kept(Map("src0" -> 20L)).map(_.getLong(0)).toSet
    val big = kept(Map("src0" -> 50L)).map(_.getLong(0)).toSet
    assert(small.subsetOf(big) && small.nonEmpty && small != big)
    // layout invariance
    assert(kept(Map("src0" -> 50L), parts = 1).map(_.toSeq) ==
      kept(Map("src0" -> 50L), parts = 13).map(_.toSeq))
    intercept[IllegalArgumentException](
      Sampling.takeTokenBudget(df, "id", "source", "text", Map.empty))
  }

  test("mixByTemperature: rare source keeps all, counts track n^tau, " +
      "tau=1 is the natural mix, layout-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    // skewed sources: 4000 / 900 / 100 rows
    val df = ((1L to 4000L).map(i => (i, "web")) ++
      (1L to 900L).map(i => (i + 10000, "books")) ++
      (1L to 100L).map(i => (i + 20000, "wiki"))).toDF("id", "source")
    val m = Sampling.mixByTemperature(df, "id", "source", tau = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest source is untouched; others land near n_min^(1-t) * n^t
    assert(m("wiki") == 100, s"wiki ${m("wiki")}")
    assert(math.abs(m("books") - 300) < 80, s"books ${m("books")}")  // √(100·900)
    assert(math.abs(m("web") - 632) < 140, s"web ${m("web")}")       // √(100·4000)
    // tau=1: natural mix, nothing dropped
    assert(Sampling.mixByTemperature(df, "id", "source", 1.0).count()
      == 5000)
    // deterministic under repartitioning
    val a = Sampling.mixByTemperature(df, "id", "source", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixByTemperature(df.repartition(13), "id", "source",
      0.5).select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    intercept[IllegalArgumentException](
      Sampling.mixByTemperature(df, "id", "source", 1.5))
  }

  test("canonicalize: case/punct/whitespace variants collapse; " +
      "lshPlan crossover tracks the target threshold") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val df = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO—WORLD…"),
      (4L, "different text")).toDF("id", "text")
    val canon = df.select(col("id"), Dedup.canonicalize(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(canon(1L) == "hello world" && canon(2L) == "hello world" &&
      canon(3L) == "hello world")
    assert(canon(4L) == "different text")

    // lshPlan: crossover lands near the target; probability S-curve is
    // monotone in s and steeper around the threshold than far from it
    for (target <- Seq(0.3, 0.5, 0.8)) {
      val (b, r) = Dedup.lshPlan(target, 64)
      assert(b * r <= 64 && r >= 2)
      val cross = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(cross - target) < 0.08, s"target $target got $cross")
      val lo = Dedup.lshCandidateProbability(target - 0.2, b, r)
      val hi = Dedup.lshCandidateProbability(target + 0.2, b, r)
      assert(lo < 0.5 && hi > 0.5, s"S-curve not centered for $target")
    }
  }

  test("lshPlan closes the loop: realized candidate recall on pairs of " +
      "KNOWN Jaccard tracks lshCandidateProbability's prediction") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    Dedup.cacheClear()
    // planner picks the knobs for a 0.6 threshold within a 16-hash budget
    val (bands, rpb) = Dedup.lshPlan(0.6, 16)
    assert(bands * rpb <= 16)
    // corpus of disjoint-universe doc pairs with CONTROLLED 1-shingle
    // Jaccard: each pair shares exactly m of its n tokens per side, so
    // j = m/(2n - m) is known by construction and cross-pair band
    // collisions are md5-improbable
    val n = 20
    val perBucket = 40
    val targets = Seq(0.3, 0.5, 0.7, 0.9)
    case class Bucket(j: Double, firstPair: Int, lastPair: Int)
    var nextPair = 0
    val buckets = targets.map { sTarget =>
      val m = math.round(2 * n * sTarget / (1 + sTarget)).toInt
      val j = m.toDouble / (2 * n - m)
      val first = nextPair
      nextPair += perBucket
      (Bucket(j, first, nextPair - 1), m)
    }
    val docs = buckets.flatMap { case (bk, m) =>
      (bk.firstPair to bk.lastPair).flatMap { p =>
        val shared = (0 until m).map(i => s"p${p}s$i")
        val onlyA = (m until n).map(i => s"p${p}a$i")
        val onlyB = (m until n).map(i => s"p${p}b$i")
        Seq((2L * p, (shared ++ onlyA).mkString(" ")),
          (2L * p + 1, (shared ++ onlyB).mkString(" ")))
      }
    }.toDF("id", "text")
    val found = Dedup.minHashPairs(docs, "text", "id",
        k = 1, bands = bands, rowsPerBand = rpb)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    buckets.foreach { case (bk, _) =>
      val hits = (bk.firstPair to bk.lastPair).count { p =>
        found.contains((2L * p, 2L * p + 1))
      }
      val realized = hits.toDouble / perBucket
      val predicted = Dedup.lshCandidateProbability(bk.j, bands, rpb)
      // binomial noise at 40 pairs plus finite-hash estimator variance:
      // a ±0.2 band still separates the S-curve's low/mid/high regimes
      assert(math.abs(realized - predicted) <= 0.2,
        f"j=${bk.j}%.2f realized=$realized%.2f predicted=$predicted%.2f " +
          f"(bands=$bands r=$rpb)")
    }
    // and the curve is USABLE: high-similarity pairs are mostly caught,
    // low-similarity mostly rejected — the planner's entire point
    val lowR = (buckets.head._1.firstPair to buckets.head._1.lastPair)
      .count(p => found.contains((2L * p, 2L * p + 1))).toDouble / perBucket
    val highR = (buckets.last._1.firstPair to buckets.last._1.lastPair)
      .count(p => found.contains((2L * p, 2L * p + 1))).toDouble / perBucket
    assert(highR > 0.8 && lowR < 0.4, f"low=$lowR%.2f high=$highR%.2f")
    Dedup.cacheClear()
  }

  test("exactSubstrDedup: later occurrences excised, overlaps merge, " +
      "first copy kept, partition invariance") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c y"),   // "a b c" duplicates doc 1's window at k=3
      (3L, "a b c d e"),   // full duplicate → fully excised
      (4L, "p q r"))       // untouched
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c d e", "first occurrence survives intact")
    assert(out(2L) == "x y", "duplicated interior passage excised")
    assert(out(3L) == "", "full duplicate fully excised")
    assert(out(4L) == "p q r")

    // overlapping duplicated windows merge into one excision: doc 5
    // repeats doc 1's "a b c d" AND "b c d e" (sharing "b c d")
    val docs2 = docs.unionAll(
      Seq((5L, "z a b c d e z")).toDF("doc_id", "text"))
    val out2 = Dedup.exactSubstrDedup(docs2, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(5L) == "z z", "overlapping dup windows excise the union")

    val out7 = Dedup.exactSubstrDedup(docs2.repartition(7),
      "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out7 == out2)
  }

  test("epochShuffle: dense permutation, layout-invariant, epochs differ") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val df = (1L to 500L).map(i => (i, s"t$i")).toDF("id", "payload")
    val e1 = Sampling.epochShuffle(df, "id", epoch = 1).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(e1.values.toSeq.sorted == (0L until 500L))
    val e1b = Sampling.epochShuffle(df.repartition(13), "id", epoch = 1)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(e1b == e1, "same epoch, any layout → same permutation")
    val e2 = Sampling.epochShuffle(df, "id", epoch = 2).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(e2 != e1, "different epochs permute differently")
    assert(e2.values.toSeq.sorted == (0L until 500L))
  }

  test("perplexityBuckets: sizes differ by at most one, head outranks " +
      "tail, null-xent docs land in tail, layout-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.LmQuality
    val docs = ((1L to 50L).map(i =>
        (i, s"tok${i % 7} tok${i % 5} tok${i % 7} tok${i % 3}")) :+
      (99L, "solo")).toDF("doc_id", "text") // "solo" → 0 bigrams → null
    val out = LmQuality.perplexityBuckets(docs, "text", "doc_id")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("ppl_bucket"), r.getAs[Any]("sum_u"))).toMap
    val sizes = out.values.groupBy(_._1).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set("head", "middle", "tail"))
    assert(sizes.values.max - sizes.values.min <= 1, s"sizes $sizes")
    assert(out(99L)._1 == "tail", "unscorable doc must rank last")
    // every head doc's xent ≤ every tail doc's xent (null excluded)
    val xents = LmQuality.perplexityBuckets(docs, "text", "doc_id")
      .filter(col("xent").isNotNull).collect()
      .map(r => r.getAs[String]("ppl_bucket") -> r.getAs[Double]("xent"))
    val headMax = xents.filter(_._1 == "head").map(_._2).max
    val tailMin = xents.filter(_._1 == "tail").map(_._2).min
    assert(headMax <= tailMin, s"head max $headMax > tail min $tailMin")
    val out13 = LmQuality.perplexityBuckets(docs.repartition(13),
      "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("ppl_bucket"), r.getAs[Any]("sum_u"))).toMap
    assert(out13 == out)
  }

  test("dedupSegments: first occurrences survive in order; idempotent; " +
      "empty and all-dup docs handled") {
    val s = spark
    import s.implicits._
    import graft.functions.Repetition
    val df = Seq(
      (1L, "a b a c b a"), (2L, "x x x"), (3L, ""), (4L, "  "),
      (5L, "one two three")).toDF("id", "t")
    val once = df.select(col("id"),
      Repetition.dedupSegments(col("t"), " ").as("o")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once == Map(1L -> "a b c", 2L -> "x", 3L -> "", 4L -> "",
      5L -> "one two three"))
    val twice = df.select(col("id"),
      Repetition.dedupSegments(
        Repetition.dedupSegments(col("t"), " "), " ").as("o")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == once, "dedupSegments must be idempotent")
  }

  test("bloom dedup: no false negatives, filterNew drops exactly the " +
      "hits, verdicts layout-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val docs = (0L until 200L).map(i => (i, s"content number $i"))
      .toDF("id", "t")
    val seen = docs.filter(col("id") < 100)
    val model = Dedup.bloomBuild(seen, col("t"), 1 << 16, 3)
    // the state really is m BITS: packed 64-per-long → m/8 bytes
    assert(model.bits.length == (1 << 16) / 64,
      "bitmap must be packed words (ceil(m/64) longs = m/8 bytes)")
    val verdicts = docs.select(col("id"),
      Dedup.bloomMightContain(model, col("t")).as("hit")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // every inserted key MUST hit (bloom's no-false-negative guarantee)
    (0L until 100L).foreach(i => assert(verdicts(i), s"false negative $i"))
    val kept = Dedup.bloomFilterNew(docs, model, col("t")).collect()
      .map(_.getLong(0)).toSet
    assert(kept == verdicts.filter(!_._2).keySet)
    // a different build layout sets the same bits → same verdicts
    val model13 = Dedup.bloomBuild(seen.repartition(13), col("t"),
      1 << 16, 3)
    assert(model13.bits.toSeq == model.bits.toSeq)
  }

  test("dsirScore: target docs outscore off-target docs; layout " +
      "invariance; dsirTopFrac keeps exactly ceil(frac·n) by the total " +
      "order") {
    val s = spark
    import s.implicits._
    import graft.operators.Dsir
    // two disjoint vocabularies: target-flavored docs repeat "alpha"
    // ngrams, background docs "omega" ngrams — DSIR must rank the
    // held-out alpha docs above the omega ones
    val rows = (0L until 40L).map { i =>
      val flavor = if (i % 2 == 0) "alpha beta gamma delta"
      else "omega psi chi phi"
      (i, s"$flavor token$i $flavor")
    }
    val raw = rows.toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") % 2 === 0 && col("doc_id") < 20)
    val scored = Dsir.dsirScore(raw, target, "text", "doc_id", 128)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sum_llr_u"))
      .toMap
    val alphaMin = scored.filter(_._1 % 2 == 0).values.min
    val omegaMax = scored.filter(_._1 % 2 == 1).values.max
    assert(alphaMin > omegaMax,
      s"alpha floor $alphaMin not above omega ceiling $omegaMax")
    // layout invariance: scores are bit-identical at any parallelism
    val scored13 = Dsir.dsirScore(raw.repartition(13), target, "text",
      "doc_id", 128).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sum_llr_u"))
      .toMap
    assert(scored13 == scored)
    // topFrac: exactly ceil(0.3·40)=12 rows, all alpha-flavored, and
    // replay on a different layout returns the identical set
    val sdf = Dsir.dsirScore(raw, target, "text", "doc_id", 128)
    val kept = Dsir.dsirTopFrac(sdf, "doc_id", "sum_llr_u", 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.size == 12)
    assert(kept.forall(_ % 2 == 0), s"off-target doc kept: $kept")
    val kept7 = Dsir.dsirTopFrac(
      Dsir.dsirScore(raw.repartition(7), target, "text", "doc_id", 128),
      "doc_id", "sum_llr_u", 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept7 == kept)
  }

  test("dsirModel: disjoint target corpus — target-only buckets keep " +
      "their mass in ttot's smoothing denominator") {
    val s = spark
    import s.implicits._
    import graft.operators.Dsir
    // target shares NO vocabulary with raw (the paper's Wikipedia-vs-CC
    // setting): every target feature lands in a bucket raw never hits
    val raw = Seq((1L, "apple banana"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val target = Seq((10L, "xylo zephyr quartz"), (11L, "zephyr quartz"))
      .toDF("doc_id", "text")
    val b = 4096 // large enough that cross-corpus collisions are unlikely
    val model = Dsir.dsirModel(raw, target, "text", b).collect()
    // emitted rows cover only raw-observed buckets
    assert(model.forall(_.getAs[Long]("raw_c") >= 1L))
    // raw has 2 docs × (2 unigrams + 1 bigram) = 6 features, none in
    // target → every emitted bucket has target_c = 0 and the SAME llr_u,
    // whose value encodes ttot = 8 (target: 3+2 unigrams + 2+1 bigrams).
    // With the buggy raw-joined total, ttot would be 0 and llr_u shifts.
    val ttot = 8.0
    val rtot = model.map(_.getAs[Long]("raw_c")).sum.toDouble
    val expected = model.map { r =>
      val p = (r.getAs[Long]("target_c") + 1.0) / (ttot + b)
      val q = (r.getAs[Long]("raw_c") + 1.0) / (rtot + b)
      val r6 = BigDecimal(math.log(p / q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(r6 * 1e6)
    }
    model.map(_.getAs[Long]("llr_u")).zip(expected).foreach {
      case (got, want) => assert(got == want, s"llr_u $got != $want")
    }
  }

  test("collapseClusters/splitByCluster: docs with a user `label` column " +
      "survive with the column intact (no ambiguous reference)") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "aa", 7), (2L, "aaaa", 8), (3L, "aaa", 9), (20L, "z", 5)
    ).toDF("doc_id", "text", "label")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    Dedup.cacheClear()
    val out = Dedup.collapseClusters(docs, pairs, "doc_id", length($"text"))
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 20L))
    assert(out.map(_.getInt(2)).toSeq == Seq(8, 5)) // user label preserved
    val split = Sampling.splitByCluster(docs, pairs, "doc_id",
      Seq("train" -> 0.5, "test" -> 0.5))
    assert(split.columns.toSeq ==
      Seq("doc_id", "text", "label", "split"))
    assert(split.count() == 4L)
  }

  test("sampleByWeight: keep rate tracks weight, monotone in weight, " +
      "clamped, partition-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    val df = (1L to 4000L).map(i => (i, (i % 4) match {
      case 0 => 0.0
      case 1 => 0.25
      case 2 => 0.75
      case _ => 5.0 // clamps to 1.0
    })).toDF("id", "w")
    val kept = Sampling.sampleByWeight(df, "id", "w")
    val byW = kept.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!byW.contains(0.0), "weight 0 keeps nothing")
    assert(byW(5.0) == 1000, "weight > 1 clamps to keep-all")
    assert(math.abs(byW(0.25) - 250) < 90, s"w=0.25 kept ${byW(0.25)}")
    assert(math.abs(byW(0.75) - 750) < 90, s"w=0.75 kept ${byW(0.75)}")

    // monotone: raising every weight only adds survivors
    val low = Sampling.sampleByWeight(
      df.withColumn("w", col("w") * 0.5), "id", "w")
      .select("id").collect().map(_.getLong(0)).toSet
    val ids = kept.select("id").collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(ids))

    // partition invariance
    val ids13 = Sampling.sampleByWeight(df.repartition(13), "id", "w")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids13 == ids)
  }

  test("scrub: redacts email/ip/ssn/phone, counts per kind, text preserved") {
    val s = spark
    import s.implicits._
    import graft.operators.Scrub
    val df = Seq(
      (1L, "mail a.b+c@ex-ample.org and 192.168.0.1 then 123-45-6789 ok"),
      (2L, "call 555-867-5309 or 555.867.5309; no pii after that"),
      (3L, "clean text with version 1.2 and year 2024 untouched")
    ).toDF("id", "t")
    val out = Scrub.scrub(df, "t").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1).getAs[String]("t_scrubbed") ==
      "mail <EMAIL> and <IP> then <ID> ok")
    assert(out(1).getAs[Int]("n_email") == 1)
    assert(out(1).getAs[Int]("n_ipv4") == 1)
    assert(out(1).getAs[Int]("n_ssn") == 1)
    assert(out(2).getAs[String]("t_scrubbed") ==
      "call <PHONE> or <PHONE>; no pii after that")
    assert(out(2).getAs[Int]("n_phone") == 2)
    // non-PII digits (versions, years) must survive
    assert(out(3).getAs[String]("t_scrubbed") == out(3).getAs[String]("t"))
    assert(Seq("n_email", "n_ipv4", "n_ssn", "n_phone")
      .forall(c => out(3).getAs[Int](c) == 0))
  }

  test("repetition: dup-line fraction and n-gram repetition shares") {
    val s = spark
    import s.implicits._
    import graft.functions.Repetition
    val df = Seq(
      (1L, "a\nb\na\n\n a "),      // 4 non-empty lines: a,b,a,a -> 2 dup
      (2L, "x\ny\nz"),
      (3L, "")
    ).toDF("id", "t")
    val dl = df.select($"id",
        Repetition.duplicateLineFraction($"t").as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dl(1) == 0.5)    // 1 - 2/4
    assert(dl(2) == 0.0)
    assert(dl(3) == 0.0)
    // "p q p q p": 2-grams = [p q, q p, p q, q p] -> top 2/4, dup 4/4
    val rep = Repetition.ngramRepetition(
        Seq((1L, "p q p q p"), (2L, "a b c d")).toDF("id", "t"), "id", "t", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep(1) == ((4L, 0.5, 1.0)))
    assert(rep(2) == ((3L, round3(1.0 / 3), 0.0)))
  }

  private def round3(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("decontaminate: shared k-grams flag, clean() is the complement") {
    val s = spark
    import s.implicits._
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different sentence with no overlap here"),
      (3L, "we say the quick brown fox jumps again and again"),
      (4L, "short text")).toDF("doc_id", "text")
    val bench = Seq((100L, "watch the quick brown fox jumps high"))
      .toDF("bid", "btext")
    // 5-gram "the quick brown fox jumps" is shared by docs 1 and 3
    val f = Decontaminate.flagged(corpus, "text", "doc_id",
      bench, "btext", 5).collect().map(_.getLong(0)).toSet
    assert(f == Set(1L, 3L))
    val kept = Decontaminate.clean(corpus, "text", "doc_id",
      bench, "btext", 5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("decontaminate overlapFraction: per-doc shingle counts, hits, " +
      "and graded fraction — 0.0 clean, 1.0 fully-contained, " +
      "in-between for partial overlap") {
    val s = spark
    import s.implicits._
    import graft.operators.Decontaminate
    val corpus = Seq(
      // 6 distinct 5-shingles, 2 of them in the bench text
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different sentence with no overlap here"),
      // 5 tokens = exactly one 5-shingle, fully contained in bench
      (3L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val bench = Seq((100L, "watch the quick brown fox jumps high"))
      .toDF("bid", "btext")
    val sh = Decontaminate.benchShingles(bench, "btext", 5)
    val got = Decontaminate.overlapFraction(corpus, "text", "doc_id",
        sh, 5).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("overlap_frac")))
    // doc1: 10 tokens → 6 shingles; bench has 3 shingles, shared:
    // "the quick brown fox jumps" only → 1 hit
    assert(got(0)._2 == 6L && got(0)._3 == 1L)
    assert(got(0)._4 == round3(1.0 / 6))
    assert(got(1) == ((2L, 4L, 0L, 0.0)))
    assert(got(2) == ((3L, 1L, 1L, 1.0)))
    // a NON-DISTINCT bench side (per-item (id, sh) pairs with repeats)
    // must not multiply corpus rows through the left join (ADVICE r16)
    val dup = sh.union(sh)
    val got2 = Decontaminate.overlapFraction(corpus, "text", "doc_id",
        dup, 5).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("overlap_frac")))
    assert(got2.toSeq == got.toSeq)
  }

  test("decontaminate evalContamination: per-bench-item fraction of " +
      "shingles found in the corpus; zero-hit items report 0.0") {
    val s = spark
    import s.implicits._
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a completely different sentence with no overlap here"))
      .toDF("doc_id", "text")
    val bench = Seq(
      // 3 shingles; only "the quick brown fox jumps" is in the corpus
      (100L, "watch the quick brown fox jumps high"),
      // fully contained (exact 5-token substring of doc 1)
      (101L, "jumps over the lazy dog"),
      (102L, "nothing of this benchmark appears anywhere at all"))
      .toDF("bench_id", "btext")
    val got = Decontaminate.evalContamination(corpus, "text",
        bench, "btext", "bench_id", 5)
      .orderBy(col("bench_id")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("contam_frac")))
    assert(got(0) == ((100L, 3L, 1L, round3(1.0 / 3))))
    assert(got(1) == ((101L, 1L, 1L, 1.0)))
    assert(got(2) == ((102L, 4L, 0L, 0.0)))
  }

  test("cleanParagraphs: only the leaked lines vanish, order and " +
      "untouched documents survive byte-identical") {
    val s = spark
    import s.implicits._
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, "keep this line intact\nthe secret benchmark answer leaked\nand the tail stays"),
      (2L, "totally unrelated document text\nnothing shared at all"),
      (3L, "the secret benchmark answer leaked")).toDF("doc_id", "text")
    val bench = Seq((9L, "q: what is it a: the secret benchmark answer leaked"))
      .toDF("bid", "btext")
    val sh = Decontaminate.benchShingles(bench, "btext", 5)
    val got = Decontaminate.cleanParagraphs(corpus, "text", "doc_id",
        sh, 5).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got(0) == ((1L,
      "keep this line intact\nand the tail stays")))
    assert(got(1) == ((2L,
      "totally unrelated document text\nnothing shared at all")))
    assert(got(2) == ((3L, ""))) // fully contaminated -> empty rebuild
  }

  test("hotNgrams: occurrence-counted top-N with deterministic ties, " +
      "minCount prunes singletons, within-doc repeats count") {
    val s = spark
    import s.implicits._
    import graft.operators.Curation
    val df = Seq(
      (1L, "click here to subscribe now please click here to subscribe"),
      (2L, "click here to subscribe now and thanks"),
      (3L, "entirely unrelated words that appear only once ever")
    ).toDF("doc_id", "text")
    val got = Curation.hotNgrams(df, "text", 3, 10).collect()
      .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("cnt")))
    // "click here to" ×3 (twice in doc 1 — within-doc repeats count,
    // once in doc 2); "here to subscribe" ×3; "to subscribe now" ×2;
    // every doc-3 shingle is a singleton and pruned
    assert(got.take(2).toSeq ==
      Seq(("click here to", 3L), ("here to subscribe", 3L)))
    assert(got.contains(("to subscribe now", 2L)))
    assert(got.forall(_._2 >= 2L))
    assert(!got.exists(_._1.contains("unrelated")))
  }

  test("dedup cache: build-once reuse, LRU eviction unpersists") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "aaa bbb ccc"), (2L, "ddd eee fff"))
      .toDF("doc_id", "text")
    val prev = Dedup.cacheCapacity
    try {
      Dedup.cacheCapacity = 1
      Dedup.cacheClear()
      val p1 = Dedup.simHashPairs(df, "text", "doc_id", 16)
      assert(Dedup.simHashPairs(df, "text", "doc_id", 16) eq p1,
        "same corpus+params must reuse the built pairs")
      assert(p1.storageLevel.useMemory, "built pairs are persisted")
      // different params → new entry; capacity 1 evicts p1, whose release
      // DEFERS to the next between-queries sweep (a query still holding
      // the frame must finish against valid blocks)
      Dedup.simHashPairs(df, "text", "doc_id", 8)
      assert(p1.storageLevel.useMemory, "evicted pairs valid until sweep")
      operators.Checkpoints.sweep()
      assert(!p1.storageLevel.useMemory, "swept pairs are unpersisted")
      assert(Dedup.cacheKeys.size == 1)
      // an evicted frame is still valid — it just recomputes
      assert(p1.count() == 0L)
    } finally {
      Dedup.cacheCapacity = prev
      Dedup.cacheClear()
    }
  }

  test("multimodal metadata sniffs magic bytes on binary payloads") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("wav", "RIFF1234WAVEfmt ".getBytes("UTF-8")),
      ("png", Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)),
      ("other", "plain text".getBytes("UTF-8"))).toDF("kind", "content")
    val out = df
      .select(col("kind"),
        graft.operators.Multimodal.metadataOf(col("content"))
          .getField("mime").as("mime"),
        graft.operators.Multimodal.metadataOf(col("content"))
          .getField("n_bytes").as("n_bytes"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("wav") == "audio/wav")
    assert(out("png") == "image/png")
    assert(out("other") == "application/octet-stream")
  }

  private def pngBytes(pixels: Array[Array[Int]]): Array[Byte] = {
    val h = pixels.length; val w = pixels.head.length
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def decodePixels(bytes: Array[Byte]): Array[Array[Int]] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    Array.tabulate(img.getHeight, img.getWidth)((y, x) => img.getRGB(x, y))
  }

  test("image decode is real: meta reads headers, corrupt rows survive") {
    val s = spark
    import s.implicits._
    val red = 0xFFFF0000
    val df = Seq(
      ("ok", pngBytes(Array(Array(red, red), Array(red, red)))),
      ("bad", "not an image".getBytes("UTF-8"))).toDF("id", "content")
    val out = df.select(col("id"),
      graft.operators.Multimodal.imageMeta(col("content")).as("m"),
      graft.operators.Multimodal.metadataOf(col("content"))
        .getField("mime").as("mime"))
      .collect().map(r => r.getString(0) -> r).toMap
    val okM = out("ok").getStruct(1)
    assert(okM.getAs[Int]("width") == 2 && okM.getAs[Int]("height") == 2)
    assert(okM.getAs[Boolean]("decodable"))
    assert(out("ok").getString(2) == "image/png")
    assert(!out("bad").getStruct(1).getAs[Boolean]("decodable"))
    assert(out("bad").getString(2) == "application/octet-stream")
  }

  test("image resize: nearest duplicates pixels exactly, bilinear blends") {
    val s = spark
    import s.implicits._
    val (r, g, b, w) = (0xFFFF0000, 0xFF00FF00, 0xFF0000FF, 0xFFFFFFFF)
    val df = Seq(("i", pngBytes(Array(Array(r, g), Array(b, w)))))
      .toDF("id", "content")
    // nearest 2x2 → 4x4: each source pixel becomes a 2x2 block
    val near = df.select(graft.operators.Multimodal
      .resizeImage(col("content"), 4, 4, "nearest").as("rz")).head()
      .getStruct(0)
    assert(near.getAs[Int]("width") == 4 && near.getAs[Int]("height") == 4)
    val px = decodePixels(near.getAs[Array[Byte]]("content"))
    assert(px(0).toSeq == Seq(r, r, g, g) && px(1).toSeq == Seq(r, r, g, g))
    assert(px(2).toSeq == Seq(b, b, w, w) && px(3).toSeq == Seq(b, b, w, w))
    // bilinear 2x1 gray ramp → 4x1: align-centers midpoint blend
    def gray(v: Int) = 0xFF000000 | (v << 16) | (v << 8) | v
    val ramp = Seq(("i", pngBytes(Array(Array(gray(0), gray(200))))))
      .toDF("id", "content")
    val bl = ramp.select(graft.operators.Multimodal
      .resizeImage(col("content"), 4, 1, "bilinear").as("rz")).head()
      .getStruct(0)
    val bpx = decodePixels(bl.getAs[Array[Byte]]("content"))
    // align-centers sample points: sx = (x+0.5)/2 - 0.5 = -0.25, 0.25,
    // 0.75, 1.25 → clamped blends of (0, 200): 0, 50, 150, 200
    assert(bpx(0).toSeq ==
      Seq(gray(0), gray(50), gray(150), gray(200)))
    // undecodable input → null struct, not a job failure
    val bad = Seq(("x", "junk".getBytes("UTF-8"))).toDF("id", "content")
      .select(graft.operators.Multimodal
        .resizeImage(col("content"), 4, 4).as("rz")).head()
    assert(bad.isNullAt(0))
    // grayscale features: 8x8 luma in [0,1], white row = 1.0
    val feat = Seq(("i", pngBytes(Array(Array(w, w), Array(w, w)))))
      .toDF("id", "content")
      .select(graft.operators.Multimodal.imageFeatures(col("content"), 4)
        .as("f")).head().getSeq[Double](0)
    assert(feat.length == 16 && feat.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("imageHash: aHash bits from integer luma vs mean; near-dup pairs " +
      "find perturbed twin, not the inverse") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    def gray(v: Int) = 0xFF000000 | (v << 16) | (v << 8) | v
    // 2×2 base: two bright (250), two dark (10) — mean 130, bits where
    // luma > mean; bit i = y*side+x after nearest resample to 2×2
    val base = Array(Array(gray(250), gray(10)), Array(gray(10), gray(250)))
    // perturbed twin: one dark pixel nudged (stays below mean) → same hash
    val twin = Array(Array(gray(250), gray(30)), Array(gray(10), gray(250)))
    // inverse: bright/dark swapped → complementary bits
    val inv = Array(Array(gray(10), gray(250)), Array(gray(250), gray(10)))
    val df = Seq((1L, pngBytes(base)), (2L, pngBytes(twin)),
      (3L, pngBytes(inv)), (4L, "junk".getBytes("UTF-8")))
      .toDF("id", "content")
    val h = df.select(col("id"),
      Multimodal.imageHash(col("content"), 2, "nearest").as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // base: bits 0 (x0,y0) and 3 (x1,y1) set
    assert(h(1L).contains(9L))
    assert(h(2L) == h(1L), "perturbation below the mean flips no bit")
    assert(h(3L).contains(6L), "inverse image has complementary bits")
    assert(h(4L).isEmpty, "undecodable → null hash")

    // near-dup pairs at maxDist 1: twin pairs with base; inverse (dist 4
    // of 4 bits) does not — use 4-bit hashes via side=2
    val pairs = Multimodal.imageNearDupPairs(
      df.filter(col("id") =!= 4L), "content", "id", maxDist = 1,
      side = 2, method = "nearest")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("video tier: AVI/MJPEG container round-trip, frame sampling, " +
    "JPEG frames decode via ImageIO") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    // real JPEG frames from a pixel formula (lossy codec — determinism
    // comes from byte-identity of payloads, not pixel formulas)
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val g = (seed * 31 + x * 7 + y * 13) % 256
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val frames = (0 until 5).map(jpeg)
    val avi = Multimodal.encodeAviMjpeg(frames, 8, 8, 40000)
    val v = Multimodal.decodeAvi(avi).get
    assert(v.width == 8 && v.height == 8 && v.usPerFrame == 40000)
    assert(v.frames.length == 5)
    assert(v.frames.zip(frames).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) }, "frame payloads must round-trip")
    // sampled frames are the evenly spaced payloads, and each decodes
    // as a real JPEG through the JDK codec
    val df = Seq(("v1", avi)).toDF("id", "content")
    val sampled = df.select(explode(
        Multimodal.frameSampleAvi(col("content"), 3)).as("f"))
      .select(col("f.frame_idx"), col("f.frame")).orderBy("frame_idx")
      .collect()
    assert(sampled.map(_.getInt(0)).toSeq == Seq(0, 2, 4))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(sampled(1).getAs[Array[Byte]](1)))
    assert(img != null && img.getWidth == 8 && img.getHeight == 8)
    // a sampled frame feeds the image tier directly
    val rz = df.select(Multimodal.resizeImage(
        element_at(Multimodal.frameSampleAvi(col("content"), 1), 1)
          .getField("frame"), 4, 4, "nearest").as("r"))
      .select(col("r.width")).head()
    assert(rz.getInt(0) == 4)
    // metadata; corrupt input is data, not an error
    val meta = df.select(Multimodal.videoMeta(col("content")).as("m"))
      .select(col("m.width"), col("m.n_frames"), col("m.decodable")).head()
    assert(meta.getInt(0) == 8 && meta.getInt(1) == 5 && meta.getBoolean(2))
    val bad = Seq(("x", "notanavi".getBytes)).toDF("id", "content")
    assert(!bad.select(Multimodal.videoMeta(col("content"))("decodable"))
      .head().getBoolean(0))
    assert(bad.select(Multimodal.frameSampleAvi(col("content"), 2))
      .head().isNullAt(0))
    // fewer frames than requested: every frame once, in order
    val short = Multimodal.encodeAviMjpeg(frames.take(2), 8, 8, 40000)
    val sf = Seq(("s", short)).toDF("id", "content")
      .select(explode(Multimodal.frameSampleAvi(col("content"), 5)).as("f"))
      .select(col("f.frame_idx")).collect().map(_.getInt(0)).toSeq
    assert(sf == Seq(0, 1))
  }

  test("multimodal frame-sample stub (video): schema, frame spread") {
    val s = spark
    import s.implicits._
    val df = Seq(("v1", ("0123456789" * 10).getBytes("UTF-8")))
      .toDF("id", "content")
    val r = df.select(
      graft.operators.Multimodal.frameSample(col("content"), 3, 8)
        .as("frames")).head()
    val frames = r.getSeq[org.apache.spark.sql.Row](0)
    assert(frames.map(_.getAs[Int]("frame_idx")) == Seq(0, 1, 2))
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 8))
    // first frame starts at the head, last frame ends at the tail
    assert(new String(frames.head.getAs[Array[Byte]]("frame"))
      .startsWith("01234567"))
    assert(new String(frames.last.getAs[Array[Byte]]("frame"))
      .endsWith("89"))
  }

  test("asofBackward attaches latest right row at-or-before each left row") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("k", "ts", "id")
    val right = Seq((1L, 8L, "a"), (1L, 15L, "b"), (1L, 20L, "c"),
      (3L, 1L, "z")).toDF("k", "ts", "v")
    val out = graft.operators.AsofJoin.asofBackward(
      left, right, Seq("k"), "ts", Map("v" -> "rv"))
      .orderBy("id").collect()
    // ts=10 → 'a' (8); ts=20 → 'c' (equal ts counts); k=2 → null
    assert(out.map(r => Option(r.getAs[String]("rv"))).toSeq ==
      Seq(Some("a"), Some("c"), None))
    assert(out(1).getAs[Long]("ts_right") == 20L)
  }

  test("bruteForceTopK returns k best by cosine with id tiebreak") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0.8f, 0.2f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", 2).orderBy("rk").collect()
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(1L, 3L))
  }

  test("semanticDedup: assignment argmax + tie-break, greedy drops, " +
      "dropped docs still shield") {
    val s = spark
    import s.implicits._
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq(
      (0L, v(0)), (1L, v(90)), // k=2 seeds (lowest ids)
      (2L, v(3)), // 3° from seed 0 → dropped at τ=cos(4°)
      (3L, v(6)), // 6° from seed 0 (below τ) but 3° from DROPPED id2 →
      // dropped too: a dropped doc still shields its own near-dups
      (4L, v(45))) // exactly between the seeds → rounded-cos tie →
      // lowest centroid index wins (cluster 0); survives (cos45 < τ)
      .toDF("vec_id", "embedding")
    val tau = math.cos(math.toRadians(4)) // ≈ 0.997564
    val out = graft.operators.Dedup.semanticDedup(
      df, "embedding", "vec_id", 2, tau)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 0, 1L -> 1, 4L -> 0))

    // partition invariance: same survivors at any input layout
    val out7 = graft.operators.Dedup.semanticDedup(
      df.repartition(7), "embedding", "vec_id", 2, tau)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out7 == out)

    // assignment alone covers every input row
    val asg = graft.operators.Dedup.semanticAssign(
      df, "embedding", "vec_id", 2)
    assert(asg.count() == 5)
    assert(asg.filter(col("cluster") === 1).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("adaptive sign bits / cluster counts: integer-exact, clamped; " +
      "hier assignment covers every row, bounded ids, partition-invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    // integer arithmetic pinned (the oracle replays the same formulas)
    assert(Dedup.adaptiveSignBits(500) == 4)   // g=8 → 3 bits → floor 4
    assert(Dedup.adaptiveSignBits(2000) == 5)  // g=32 → 5
    assert(Dedup.adaptiveSignBits(200000) == 12) // g=3125 → 12
    assert(Dedup.adaptiveSignBits(64 * 4096) == 12) // exact power edge
    assert(Dedup.adaptiveSignBits(64 * 4096 + 1) == 13)
    assert(Dedup.adaptiveSignBits(0) == 4)
    assert(Dedup.adaptiveSignBits(Long.MaxValue, maxBits = 20) == 20)
    assert(Dedup.adaptiveClusters(500) == 8)
    assert(Dedup.adaptiveClusters(2000) == 32)
    assert(Dedup.adaptiveClusters(200000) == 3125)
    // auto == fixed where the derived parameter coincides (vectors carry
    // ≥ minBits dims — signBucket reads one element per bit, ANSI-strict)
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat, 0.1f, -0.1f)
    val df = (0L until 40L).map(i => (i, v(i * 9.0))).toDF(
      "vec_id", "embedding")
    val fixed = Dedup.embeddingPairs(df, "embedding", "vec_id",
      Dedup.adaptiveSignBits(40), 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.embeddingPairsAuto(df, "embedding", "vec_id", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed)
    // hier assignment: every row assigned exactly once, cluster ids in
    // [0, k1*k2), deterministic at any parallelism
    val k = 9 // k1 = 3, k2 = 3
    val h = Dedup.semanticAssignHier(df, "embedding", "vec_id", k)
    val rows = h.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(rows.length == 40 && rows.map(_._1).distinct.length == 40)
    assert(rows.forall { case (_, c) => c >= 0 && c < 9 })
    val h7 = Dedup.semanticAssignHier(
      df.repartition(7), "embedding", "vec_id", k)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(h7.toMap == rows.toMap)
    // the dim clamp: 70 dim-4 vectors want ceil(log2(ceil(70/4)))=5 bits
    // at targetBucket=4, but the vectors only carry 4 elements — the
    // width clamps to the dimension instead of erroring under ANSI
    // element access, and the pairs still verify against brute force
    val df70 = (0L until 70L).map(i => (i, v(i * 5.1))).toDF(
      "vec_id", "embedding")
    val clamped = Dedup.embeddingPairsAuto(df70, "embedding", "vec_id",
      0.2, targetBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clampedFixed = Dedup.embeddingPairs(df70, "embedding", "vec_id",
      4, 0.2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clamped == clampedFixed,
      "width past the dim must clamp to dim, not error or diverge")
    // sub-4-dim corpus (dim < the default minBits floor): minBits
    // clamps to the dimension too, so the width saturates at dim bits
    // instead of tripping adaptiveSignBits' maxBits >= minBits require
    val df2d = (0L until 50L).map(i =>
      (i, Array((i % 7).toFloat + 1f, (i % 3).toFloat - 1f)))
      .toDF("vec_id", "embedding")
    val sub = Dedup.embeddingPairsAuto(df2d, "embedding", "vec_id",
      0.2, targetBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val subFixed = Dedup.embeddingPairs(df2d, "embedding", "vec_id",
      2, 0.2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sub == subFixed, "sub-4-dim corpus must clamp minBits to dim")
    // auto dedup: survivors carry clusters, no surviving pair in one
    // cluster is τ-close, and every dropped row has a lower-id shield
    val tau = 0.999
    val out = Dedup.semanticDedupAuto(df, "embedding", "vec_id", tau,
      targetCluster = 5)
    val surv = out.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(surv.nonEmpty && surv.length <= 40)
    val byCluster = surv.groupBy(_._2)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      math.rint(d / (na * nb) * 1e6) / 1e6
    }
    val vecs = (0L until 40L).map(i => i -> v(i * 9.0)).toMap
    for ((_, members) <- byCluster; Array(a, b) <-
           members.map(_._1).sorted.combinations(2).map(_.toArray))
      assert(cos(vecs(a), vecs(b)) < tau,
        s"surviving pair ($a,$b) is τ-close in one cluster")
  }

  test("int8 quantization: round-trip error ≤ scale/2, zero-vector safe, " +
      "quantized top-k tracks exact top-k") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(-2.0f, 1.0f, 0.5f, -0.125f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeEmbeddings(df, "embedding")
    val rows = q.select(col("vec_id"), col("qvec"), col("qscale"),
      Similarity.dequantize(col("qvec"), col("qscale")).as("back"),
      col("embedding")).collect()
    rows.foreach { r =>
      val scale = r.getAs[Double]("qscale")
      val orig = r.getSeq[Float](4)
      val back = r.getSeq[Float](3)
      val qv = r.getSeq[Byte](1)
      assert(qv.forall(b => b >= -127 && b <= 127))
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= scale / 2 + 1e-6,
          s"vec ${r.getLong(0)}: $o vs $b at scale $scale")
      }
      if (r.getLong(0) == 1L) {
        assert(scale == 0.0 && qv.forall(_ == 0))
      }
    }

    // recall on the real embeddings: int8 cosine ranking stays close to
    // exact — at dim 64 the quantization error is ~1/254 per coordinate,
    // so top-5 overlap should be high (bound kept conservative)
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 5))
    val quant = pairs(Similarity.quantizedTopK(emb, queries, "vec_id",
      "embedding", 5))
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall")
  }

  test("product quantization: codes, ADC distances, seed self-codes, " +
      "partition invariance") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Array(0f, 0f, 1f, 0f)), // seed → centroid 0 per subspace
      (1L, Array(1f, 0f, 0f, 1f)), // seed → centroid 1 per subspace
      (2L, Array(0.9f, 0.1f, 0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(df, "vec_id", "embedding", m = 2, k = 2)
    val enc = Similarity.pqEncode(df, "embedding", model)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(enc(0L) == Seq(0.toByte, 0.toByte)) // seeds encode to themselves
    assert(enc(1L) == Seq(1.toByte, 1.toByte))
    assert(enc(2L) == Seq(1.toByte, 1.toByte)) // closest to seed 1 in both

    // hand-computed ADC from query id0: both candidates carry codes
    // [1,1] → adist_u = d(q_sub0, c1)·1e6 + d(q_sub1, c1)·1e6 =
    // 1.0e6 + 2.0e6; tie breaks by cand_id
    val top = Similarity.pqTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", m = 2, k = 2, topK = 2)
      .orderBy("rk").collect()
    assert(top.map(_.getAs[Long]("cand_id")).toSeq == Seq(1L, 2L))
    assert(top.map(_.getAs[Long]("adist_u")).toSeq ==
      Seq(3000000L, 3000000L))

    // real embeddings: shape + layout invariance
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", m = 8, k = 16, topK = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("cand_id"), r.getAs[Long]("adist_u"))).toSet
    assert(a.size == 15)
    val b = Similarity.pqTopK(emb.repartition(11),
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      m = 8, k = 16, topK = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("cand_id"), r.getAs[Long]("adist_u"))).toSet
    assert(b == a)
  }

  test("pqTrainLloyd: deterministic trained codebook beats the seeded " +
      "one on recall@k over a clustered corpus; replay is bit-stable") {
    val s = spark
    import s.implicits._
    // synthetic clustered corpus engineered so the SEED codebook is
    // pathological: the k lowest-id vectors (pqTrain's seeds) all sit in
    // ONE cluster, while the corpus spans 8 well-separated clusters —
    // exactly the situation where real Lloyd training must win
    // MANY small clusters: a query's true neighbors are its ~4 cluster
    // mates, distinguishable by PQ only when the per-subspace codes
    // spread over the data (16^4 product cells for 80 clusters). The
    // degenerate seed codebook collapses everything into a few cells
    // (ties everywhere → near-random ranking); trained Lloyd must
    // separate them.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val nClusters = 80
    val centers = Array.fill(nClusters, dim)((rnd.nextDouble() * 20 - 10).toFloat)
    def vec(cluster: Int): Array[Float] =
      centers(cluster).map(c => c + (rnd.nextDouble() * 0.4 - 0.2).toFloat)
    // ids 0..15 from cluster 0 (the degenerate seeds), then round-robin
    val rows = (0 until 16).map(i => (i.toLong, vec(0))) ++
      (16 until 416).map(i => (i.toLong, vec(i % nClusters)))
    val corpus = rows.toDF("vec_id", "embedding").repartition(7)
    val queries = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 4))
    val seeded = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 4, k = 16)
    val trained = Similarity.pqTrainLloyd(corpus, "vec_id", "embedding",
      m = 4, k = 16, iters = 5)
    def recall(model: Similarity.PqModel): Double = {
      val got = pairs(Similarity.pqTopKWith(corpus, queries,
        "vec_id", "embedding", model, 4))
      (exact intersect got).size.toDouble / exact.size
    }
    val rSeed = recall(seeded)
    val rTrain = recall(trained)
    assert(rTrain > rSeed,
      f"trained recall $rTrain%.2f not above seeded $rSeed%.2f")
    assert(rTrain >= 0.7, f"trained recall $rTrain%.2f below floor")
    // determinism: a second training run on a different layout yields the
    // SAME codebook (scaled-long updates are partition-order free)
    val trained2 = Similarity.pqTrainLloyd(corpus.repartition(3),
      "vec_id", "embedding", m = 4, k = 16, iters = 5)
    assert(trained2.centroids.flatten.flatten.toSeq ==
      trained.centroids.flatten.flatten.toSeq)
  }

  test("ivfPqTopK: full probe equals plain PQ; pruning only removes " +
      "candidates; partition invariance") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Long]("adist_u"), r.getAs[Int]("rk"))).toSet
    // nProbe = nCells probes everything → identical to plain PQ
    val full = rows(Similarity.ivfPqTopK(emb, queries, "vec_id",
      "embedding", nCells = 4, nProbe = 4, m = 8, k = 16, topK = 5))
    val pq = rows(Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      m = 8, k = 16, topK = 5))
    assert(full == pq)
    // pruned probe returns a subset of the candidate pool (per query,
    // every returned candidate also scores identically under plain PQ)
    val pruned = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      nCells = 4, nProbe = 1, m = 8, k = 16, topK = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Long]("adist_u")).toMap
    val pqDist = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      m = 8, k = 16, topK = 500).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Long]("adist_u")).toMap
    pruned.foreach { case (key, d) =>
      assert(pqDist.get(key).contains(d), s"$key ADC mismatch")
    }
    // layout invariance
    val p11 = rows(Similarity.ivfPqTopK(emb.repartition(11), queries,
      "vec_id", "embedding", nCells = 4, nProbe = 4, m = 8, k = 16,
      topK = 5))
    assert(p11 == full)
  }

  test("ivfCellsLloyd: trained coarse cells beat seeded cells on " +
      "pruned-probe recall; bit-stable replay; full probe = plain PQ") {
    val s = spark
    import s.implicits._
    // same pathological corpus as the pqTrainLloyd gate: the nCells
    // lowest-id vectors (the seeded cells) all sit in ONE of 80 tight
    // clusters, so under seeded cells a cluster's members scatter across
    // cells by noise and pruned probing loses their neighbors; Lloyd
    // cells must spread over the data and keep cluster mates co-celled
    val rnd = new scala.util.Random(42)
    val dim = 16
    val nClusters = 80
    val centers =
      Array.fill(nClusters, dim)((rnd.nextDouble() * 20 - 10).toFloat)
    def vec(cluster: Int): Array[Float] =
      centers(cluster).map(c => c + (rnd.nextDouble() * 0.4 - 0.2).toFloat)
    val rows = (0 until 16).map(i => (i.toLong, vec(0))) ++
      (16 until 416).map(i => (i.toLong, vec(i % nClusters)))
    val corpus = rows.toDF("vec_id", "embedding").repartition(7)
    val queries = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 4))
    // one trained PQ codebook for both runs — only the cells differ
    val model = Similarity.pqTrainLloyd(corpus, "vec_id", "embedding",
      m = 4, k = 16, iters = 5)
    val seedCells = Similarity.ivfCellsSeeded(corpus, "vec_id",
      "embedding", 16)
    val lloydCells = Similarity.ivfCellsLloyd(corpus, "vec_id",
      "embedding", 16, iters = 5)
    def recall(cells: Array[Array[Float]]): Double = {
      val got = pairs(Similarity.ivfPqTopKWith(corpus, queries, "vec_id",
        "embedding", cells, model, nProbe = 2, topK = 4))
      (exact intersect got).size.toDouble / exact.size
    }
    val rSeed = recall(seedCells)
    val rLloyd = recall(lloydCells)
    assert(rLloyd >= rSeed,
      f"trained-cell recall $rLloyd%.2f below seeded $rSeed%.2f")
    assert(rLloyd >= 0.7, f"trained-cell recall $rLloyd%.2f below floor")
    // the metric Lloyd provably improves from this exact init
    // (monotone k-means cost): quantization error — seeded cells all
    // sit in cluster 0, so every other cluster's points quantize at
    // inter-cluster distance; trained cells must spread
    val data = corpus.collect()
      .map(r => r.getSeq[Float](1).toArray)
    def quantErr(cells: Array[Array[Float]]): Double = {
      val per = data.map { x =>
        cells.map { c =>
          var d = 0.0; var i = 0
          while (i < c.length) {
            val t = x(i).toDouble - c(i).toDouble; d += t * t; i += 1
          }
          d
        }.min
      }
      per.sum / per.length
    }
    val eSeed = quantErr(seedCells)
    val eLloyd = quantErr(lloydCells)
    assert(eLloyd < eSeed * 0.5,
      f"trained quantization error $eLloyd%.1f not well below seeded " +
        f"$eSeed%.1f")
    // determinism: training on a different layout yields the SAME cells
    val lloyd2 = Similarity.ivfCellsLloyd(corpus.repartition(3), "vec_id",
      "embedding", 16, iters = 5)
    assert(lloyd2.flatten.toSeq == lloydCells.flatten.toSeq)
    // full probe with ANY cells = plain PQ over the same codebook
    val full = pairs(Similarity.ivfPqTopKWith(corpus, queries, "vec_id",
      "embedding", lloydCells, model, nProbe = 16, topK = 4))
    val pq = pairs(Similarity.pqTopKWith(corpus, queries, "vec_id",
      "embedding", model, 4))
    assert(full == pq)
  }

  test("multi-probe LSH recall ≥ single-probe recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 5))
    val single = pairs(Similarity.bucketedTopK(emb, queries, "vec_id",
      "embedding", 5, 4))
    val multi = pairs(Similarity.multiProbeTopK(emb, queries, "vec_id",
      "embedding", 5, 4))
    val rSingle = (exact & single).size.toDouble / exact.size
    val rMulti = (exact & multi).size.toDouble / exact.size
    assert(rMulti >= rSingle, s"multi=$rMulti single=$rSingle")
    assert(rMulti > 0.5, s"multi-probe recall too low: $rMulti")
  }

  test("ivfTopK achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      5, 8, 4).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    // nProbe=4 of 8 cells → expect to recover a good share of true top-5
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("ivf cache evicts and unpersists the oldest index beyond capacity") {
    val emb = Tables.embeddings(spark, sfDir)
    val prev = Similarity.ivfCacheCapacity
    Similarity.ivfCacheClear()
    Similarity.ivfCacheCapacity = 1
    try {
      val i1 = Similarity.ivfIndex(emb, "vec_id", "embedding", 4,
        Some("snapA"))
      assert(i1.assigned.storageLevel.useMemory, "first index cached")
      val i2 = Similarity.ivfIndex(emb, "vec_id", "embedding", 4,
        Some("snapB"))
      // eviction defers the unpersist to the next between-queries sweep
      assert(i1.assigned.storageLevel.useMemory,
        "evicted index stays valid until sweep")
      operators.Checkpoints.sweep()
      assert(!i1.assigned.storageLevel.useMemory,
        "swept index must be unpersisted")
      assert(i2.assigned.storageLevel.useMemory, "new index cached")
      val snaps = Similarity.ivfCacheKeys.map(_._2)
      assert(snaps == Set("snapB"), s"cache keys: $snaps")
    } finally {
      Similarity.ivfCacheCapacity = prev
      Similarity.ivfCacheClear()
    }
  }

  test("streaming reduce: incremental fetch is lazy and complete") {
    val s = spark
    import s.implicits._
    val evaluated = s.sparkContext.longAccumulator("parts")
    val df = (1 to 1000).toDS().repartition(10)
      .mapPartitions { it => evaluated.add(1); it }
      .toDF("v")
    val it = graft.operators.StreamingReduce.batches(df, 50)
    val first = it.next()
    assert(first.length == 50)
    // only the partitions behind the first block ran — not all 10
    assert(evaluated.value < 10,
      s"toLocalIterator must not evaluate every partition eagerly: " +
        s"${evaluated.value}")
    val rest = it.flatMap(identity).map(_.getInt(0)).toVector
    assert((first.map(_.getInt(0)).toVector ++ rest).sorted ==
      (1 to 1000).toVector)
    assert(evaluated.value == 10)
    // foreachBatch delivers everything exactly once
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val n = graft.operators.StreamingReduce.foreachBatch(
      (1 to 7).toDF("v"), 3)(b => seen ++= b.map(_.getInt(0)))
    assert(n == 7 && seen.sorted == (1 to 7))
    intercept[IllegalArgumentException](
      graft.operators.StreamingReduce.batches(df, 0))
  }

  test("ivf index persists cell-partitioned and reloads without " +
    "re-clustering") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val built = Similarity.ivfIndex(emb, "vec_id", "embedding", 8, None)
    val expected = Similarity.ivfTopKWith(built, queries, "vec_id", "embedding", 5, 4)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("cand_id"))).toSet
    Similarity.persistIvfIndex(built, dir)
    built.assigned.unpersist(false)
    // cold session analog: nothing cached, no MLlib in the load path —
    // the index comes back as a plain parquet read
    Similarity.ivfCacheClear()
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val got = Similarity.ivfTopKWith(loaded, queries, "vec_id",
      "embedding", 5, 4)
    assert(got.collect().map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("cand_id"))).toSet == expected)
    // cells are partition keys: a one-cell probe prunes to one directory
    val oneCell = loaded.assigned.filter(col("cell") === 0)
    assert(oneCell.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    assert(new java.io.File(s"$dir/assigned").listFiles()
      .exists(_.getName.startsWith("cell=")), "cell= partition dirs")
  }

  test("simhash pigeonhole chunk masks cover full-width chunks (mod-64 " +
    "shift hazard)") {
    // maxDist=0, nBits=64 → a single 64-bit chunk: the mask must be all
    // ones, not (1L << 64) - 1 == 0, which would collapse every blocking
    // key to 0 (all-pairs join).
    assert(Dedup.chunkSpecs(64, 0) == Seq((0, 0, -1L)))
    // 64 bits over 3 chunks: 21+21+22, last mask covers the remainder
    assert(Dedup.chunkSpecs(64, 2) == Seq(
      (0, 0, (1L << 21) - 1), (1, 21, (1L << 21) - 1),
      (2, 42, (1L << 22) - 1)))
    // and the degenerate-key join still yields exactly the exact-match
    // pairs for maxDist=0 at full width
    val s = spark
    import s.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val out = Dedup.simHashPairsWithin(df, "text", "doc_id", 64, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }

  test("spanDedup keeps first occurrence globally and within a doc") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c x y z a b c"), // span "a b c" repeats within the doc
      (2L, "a b c q r"), // "a b c" already seen in doc 1
      (3L, "q r s")) // "q r" is NOT a span of doc 2 (its spans: "a b c","q r")
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c x y z") // duplicate trailing span dropped
    assert(out(2L) == "q r") // first span lost to doc 1, tail survives
    assert(out(3L) == "q r s") // distinct 3-token span, untouched
  }

  test("spanDedup returns empty text (not a dropped row) when all spans " +
    "lose, and partitioning does not change the result") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a b c", 2L -> ""))
    val re = Dedup.spanDedup(df.repartition(7), "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == out)
  }

  test("paragraphDedup keeps the global first occurrence of each raw " +
    "paragraph, drops blank lines, preserves order, honors custom " +
    "separators, and is partition-invariant") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "cookie banner\nreal content one\n\ncookie banner"),
      (2L, "cookie banner\nreal content two"),
      (3L, "  \nreal content one more")) // blank-only line drops
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "cookie banner\nreal content one")
    assert(out(2L) == "real content two")
    assert(out(3L) == "real content one more") // raw-string compare: not
    // a dup of "real content one"
    val re = Dedup.paragraphDedup(df.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == out)
    // custom separator, all-lose → empty text, row kept
    val df2 = Seq((1L, "x|y"), (2L, "x|y")).toDF("doc_id", "text")
    val out2 = Dedup.paragraphDedup(df2, "doc_id", "text", "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(1L -> "x|y", 2L -> ""))
  }

  test("normalizeUrl applies every rule and only those") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "HTTPS://WWW.Example.COM:443/docs/1/#frag" -> "example.com/docs/1",
      "http://example.com:80/a" -> "example.com/a",
      "https://sub.example.com:8080/a/" -> "sub.example.com:8080/a",
      "ftp://www.Example.org" -> "example.org",
      "example.com/a?q=1#x" -> "example.com/a?q=1",
      "https://example.com" -> "example.com",
      // the port rule is HOST-anchored: an embedded :80/ or :443/ in the
      // path or query survives (ADVICE r6: the old pattern rewrote it)
      "example.com/r?u=http://h:443/x" -> "example.com/r?u=http://h:443/x",
      "example.com:80/r?u=http://h:80/x" -> "example.com/r?u=http://h:80/x",
      "https://example.com:443?q=1" -> "example.com?q=1")
    val df = cases.map(_._1).toDF("u")
      .select(col("u"), operators.UrlCuration.normalizeUrl(col("u")).as("n"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, in) }
  }

  test("surtKey: authority lowercased+reversed, www/default-port/fragment " +
      "drop, userinfo drop, subdomain grouping, non-http null") {
    val s = spark
    import s.implicits._
    val cases: Seq[(String, String)] = Seq(
      "https://WWW.News.Example.ORG/A/b?z=1&a=2#f" ->
        "org,example,news)/A/b?z=1&a=2", // case kept past the authority
      "http://example.com:80/x" -> "com,example)/x",
      "https://example.com:443/x" -> "com,example)/x",
      "http://example.com:443/x" -> "com,example:443)/x", // not its default
      "https://h.io:8443/x" -> "io,h:8443)/x",
      "http://h.io?q=1" -> "io,h)/?q=1", // query-no-path keeps the query
      "https://user@h.io/" -> "io,h)/",
      "https://example.com" -> "com,example)/")
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), operators.UrlCuration.surtKey(col("u")).as("k"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, in) }
    // non-http schemes and bare strings are null, like the url helpers
    val nulls = Seq("ftp://example.com/x", "example.com/x").toDF("u")
      .select(operators.UrlCuration.surtKey(col("u")))
      .collect()
    assert(nulls.forall(_.isNullAt(0)))
    // the point of SURT: sorting groups a registered domain's hosts —
    // every example.com url sorts between the com,example-prefixed keys
    val keys = Seq("https://b.example.com/x", "https://example.com/y",
      "https://a.example.com/z").toDF("u")
      .select(operators.UrlCuration.surtKey(col("u")).as("k"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys.forall(_.startsWith("com,example")))
  }

  test("hostOf/registeredDomainOf extract host and registered domain " +
      "(PSL multi-label suffixes register at three labels)") {
    val s = spark
    import s.implicits._
    val df = Seq("a.b.example.com/x/y", "localhost/z", "example.com?q=1",
      "news.bbc.co.uk/article", "abc.net.au", "deep.sub.gov.uk/x",
      "co.uk/odd", "example.couk")
      .toDF("u")
    val host = operators.UrlCuration.hostOf(col("u"))
    val out = df.select(host.as("h"),
        operators.UrlCuration.registeredDomainOf(host).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out(0) == ("a.b.example.com", "example.com"))
    assert(out(1) == ("localhost", "localhost")) // no dot → host itself
    assert(out(2) == ("example.com", "example.com"))
    assert(out(3) == ("news.bbc.co.uk", "bbc.co.uk"))
    assert(out(4) == ("abc.net.au", "abc.net.au")) // already registrable
    assert(out(5) == ("deep.sub.gov.uk", "sub.gov.uk"))
    assert(out(6) == ("co.uk", "co.uk")) // bare suffix: no registrable part
    assert(out(7) == ("example.couk", "example.couk")) // not a PSL match
  }

  test("keepTopFraction: per-stratum ceil quantile, score-desc/id ties, " +
      "frac 0/1 degeneracies, exact decimal threshold") {
    val s = spark
    import s.implicits._
    import graft.operators.Sampling
    // stratum a: 10 rows (ceil(10·0.3)=3 — the double-arithmetic trap
    // would ceil 3.0000000000000004 to 4); stratum b: 4 rows → ceil 2
    val df = ((1 to 10).map(i => (i.toLong, "a", (i % 5).toDouble)) ++
      (11 to 14).map(i => (i.toLong, "b", 1.0))).toDF("id", "st", "sc")
    val got = Sampling.keepTopFraction(df, "st", "sc", "id", 0.3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    // a: scores 1,2,3,4,0,1,2,3,4,0 → top by (sc desc, id): id 4 (4),
    // id 9 (4), id 3 (3) — exactly 3 rows
    // b: all tied at 1.0 → ids 11, 12 (lowest ids win ties)
    assert(got == Set(("a", 4L), ("a", 9L), ("a", 3L),
      ("b", 11L), ("b", 12L)))
    assert(Sampling.keepTopFraction(df, "st", "sc", "id", 0.0)
      .count() == 0)
    assert(Sampling.keepTopFraction(df, "st", "sc", "id", 1.0)
      .count() == 14)
    // partition-layout invariance: same survivors at any parallelism
    val one = Sampling.keepTopFraction(df.coalesce(1), "st", "sc", "id",
      0.3).collect().map(_.getLong(0)).toSet
    val many = Sampling.keepTopFraction(df.repartition(7), "st", "sc",
      "id", 0.3).collect().map(_.getLong(0)).toSet
    assert(one == many)
  }

  test("capPerDomain keeps exactly n per domain, deterministically at any " +
    "parallelism") {
    val s = spark
    import s.implicits._
    val df = (0L until 100L).map(i => (i, s"dom${i % 4}")).toDF("id", "dom")
    val kept = operators.UrlCuration.capPerDomain(df, "id", "dom", 10)
    val byDom = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom.values.toSet == Set(10L) && byDom.size == 4)
    val ids = kept.collect().map(_.getLong(0)).toSet
    val re = operators.UrlCuration.capPerDomain(df.repartition(13), "id",
      "dom", 10).collect().map(_.getLong(0)).toSet
    assert(re == ids) // same survivor SET, not just same counts
    // a domain under the cap is untouched
    val small = operators.UrlCuration.capPerDomain(
      df.filter(col("id") < 8), "id", "dom", 10)
    assert(small.count() == 8)
  }

  test("incrementalExact dedups across batches via the persisted index " +
    "and within a batch, and the index is prefix-partitioned") {
    val s = spark
    import s.implicits._
    Dedup.dropIndex(s, "spec_inc")
    try {
      val b1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "text")
      val s1 = Dedup.incrementalExact(s, b1, "text", "id", "spec_inc")
      // within-batch: min id wins
      assert(s1.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      val b2 = Seq((10L, "aa"), (11L, "cc"), (12L, "cc")).toDF("id", "text")
      val s2 = Dedup.incrementalExact(s, b2, "text", "id", "spec_inc")
      // cross-batch: "aa" already indexed; "cc" first occurrence survives
      assert(s2.collect().map(_.getLong(0)).toSet == Set(11L))
      // the survivors stay stable even though the index now has their
      // hashes (lineage truncated before the append)
      assert(s2.count() == 1)
      val b3 = Seq((20L, "cc"), (21L, "dd")).toDF("id", "text")
      val s3 = Dedup.incrementalExact(s, b3, "text", "id", "spec_inc")
      assert(s3.collect().map(_.getLong(0)).toSet == Set(21L))
      // index accumulated one hash per unique text, in a hive-partitioned
      // directory keyed by the letter-sentinel hash prefix
      val dir = new java.io.File(s"/tmp/graft-warehouse/apps/" +
        s"${s.sparkContext.applicationId}/dedup_idx/spec_inc")
      val idx = s.read.parquet(dir.getPath)
      assert(idx.count() == 4) // aa bb cc dd
      assert(idx.columns.toSet == Set("id", "content_hash", "batch_tag",
        "hp"))
      assert(dir.listFiles().forall(f => f.getName.startsWith("hp=h") ||
        f.getName.startsWith("_")))
      // the pruned probe plan touches only the batch's prefix dirs: a
      // one-row batch prunes the partition count in the scan
      val hp = "h" + Seq("aa").toDF("t")
        .select(md5(col("t"))).head().getString(0).substring(0, 1)
      // input_file_name over the EXECUTED scan (inputFiles on the frame
      // reports the relation pre-pushdown): only hp=<prefix> files read
      val readFiles = s.read.parquet(dir.getPath)
        .filter(col("hp") === hp)
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(readFiles.nonEmpty && readFiles.forall(_.contains(s"hp=$hp")),
        readFiles.mkString(", "))
    } finally Dedup.dropIndex(s, "spec_inc")
  }

  test("incrementalExact prefixWidth=2: 256-prefix layout, probe still " +
    "prunes, persisted width overrides the knob") {
    val s = spark
    import s.implicits._
    Dedup.dropIndex(s, "spec_inc_w2")
    try {
      val b1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "text")
      val s1 = Dedup.incrementalExact(s, b1, "text", "id", "spec_inc_w2",
        prefixWidth = 2)
      assert(s1.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // the layout on disk is two-char prefixes (hp=hXY)
      val dir = new java.io.File(s"/tmp/graft-warehouse/apps/" +
        s"${s.sparkContext.applicationId}/dedup_idx/spec_inc_w2")
      val hpDirs = dir.listFiles().filter(_.getName.startsWith("hp="))
        .map(_.getName)
      assert(hpDirs.nonEmpty && hpDirs.forall(_.length == 6), // "hp=h" + 2
        hpDirs.mkString(", "))
      // a second batch dedups cross-batch EVEN WITH the default width-1
      // knob: the persisted layout wins, so probe and append stay
      // consistent with what's on disk
      val b2 = Seq((10L, "aa"), (11L, "cc")).toDF("id", "text")
      val s2 = Dedup.incrementalExact(s, b2, "text", "id", "spec_inc_w2")
      assert(s2.collect().map(_.getLong(0)).toSet == Set(11L))
      val idx = s.read.parquet(dir.getPath)
      assert(idx.count() == 3) // aa bb cc
      assert(idx.select("hp").distinct().collect()
        .forall(_.getString(0).length == 3)) // h + 2 hex chars
      // probe pruning holds at 256 prefixes: the executed scan for one
      // prefix reads only that hp subdir's files
      val hp = "h" + Seq("aa").toDF("t")
        .select(md5(col("t"))).head().getString(0).substring(0, 2)
      val readFiles = s.read.parquet(dir.getPath)
        .filter(col("hp") === hp)
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(readFiles.nonEmpty && readFiles.forall(_.contains(s"hp=$hp")),
        readFiles.mkString(", "))
    } finally Dedup.dropIndex(s, "spec_inc_w2")
  }

  test("incrementalMinHash lifecycle: retiring a doc frees its near-dup " +
    "suppression; compact folds the band rows physically") {
    val s = spark
    import s.implicits._
    Dedup.dropIndex(s, "spec_mh_lc")
    try {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val b1 = Seq(
        (1L, base),
        (2L, "wholly different content about other matters entirely here"))
        .toDF("doc_id", "text")
      Dedup.incrementalMinHash(s, b1, "text", "doc_id", "spec_mh_lc",
        minAgree = 0.75, batchTag = Some("m1"))
      // near-dup of doc 1 drops while doc 1 is indexed
      val nd = Seq((10L, base.stripPrefix("alpha "))).toDF("doc_id", "text")
      assert(Dedup.incrementalMinHash(s, nd, "text", "doc_id", "spec_mh_lc",
        minAgree = 0.75, batchTag = Some("m2")).count() == 0L)
      // retire doc 1: ALL its band rows leave the live view at once, so
      // the same near-dup (fresh tag) now survives and re-indexes
      Dedup.retireFromIndex(s, "spec_mh_lc", Seq(1L).toDF("doc_id"),
        "doc_id", "md1")
      val nd2 = Seq((11L, base.stripPrefix("alpha "))).toDF("doc_id", "text")
      assert(Dedup.incrementalMinHash(s, nd2, "text", "doc_id", "spec_mh_lc",
        minAgree = 0.75, batchTag = Some("m3")).count() == 1L,
        "retired doc must stop suppressing near-dups")
      // compact: doc 1's band rows physically gone; survivors' remain
      Dedup.compactIndex(s, "spec_mh_lc")
      val ids = Dedup.loadIndex(s, "spec_mh_lc")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 11L), s"got $ids")
      // and the re-indexed twin now suppresses the next copy
      val nd3 = Seq((12L, base.stripPrefix("alpha "))).toDF("doc_id", "text")
      assert(Dedup.incrementalMinHash(s, nd3, "text", "doc_id", "spec_mh_lc",
        minAgree = 0.75, batchTag = Some("m4")).count() == 0L)
    } finally Dedup.dropIndex(s, "spec_mh_lc")
  }

  test("incremental dedup index lifecycle: retire frees content for " +
    "re-index, compact folds tombstones, replayed appends no-op") {
    val s = spark
    import s.implicits._
    Dedup.dropIndex(s, "spec_lc")
    try {
      val b1 = Seq((1L, "aa"), (2L, "bb")).toDF("id", "text")
      Dedup.incrementalExact(s, b1, "text", "id", "spec_lc",
        batchTag = Some("t1"))
      // "aa" indexed: a new doc with the same content drops
      val b2 = Seq((10L, "aa"), (11L, "cc")).toDF("id", "text")
      assert(Dedup.incrementalExact(s, b2, "text", "id", "spec_lc",
        batchTag = Some("t2")).collect().map(_.getLong(0)).toSet == Set(11L))
      // retire doc 1 (its "aa" hash row): tombstone visible immediately
      Dedup.retireFromIndex(s, "spec_lc", Seq(1L).toDF("id"), "id", "d1")
      val b3 = Seq((20L, "aa")).toDF("id", "text")
      assert(Dedup.incrementalExact(s, b3, "text", "id", "spec_lc",
        batchTag = Some("t3")).count() == 1L, "retired content must re-index")
      // compact: physical removal; double compact harmless
      Dedup.compactIndex(s, "spec_lc")
      Dedup.compactIndex(s, "spec_lc")
      val dir = s"/tmp/graft-warehouse/apps/" +
        s"${s.sparkContext.applicationId}/dedup_idx/spec_lc"
      val idx = s.read.parquet(dir)
      // rows: bb(2), cc(11), aa(20) — doc 1's row gone
      assert(idx.select("id").collect().map(_.getLong(0)).toSet ==
        Set(2L, 11L, 20L))
      // replayed append (marker survives compaction) still no-ops: the
      // t2 batch re-runs and returns the same survivors
      assert(Dedup.incrementalExact(s, b2, "text", "id", "spec_lc",
        batchTag = Some("t2")).collect().map(_.getLong(0)).toSet == Set(11L))
      assert(s.read.parquet(dir).count() == 3L)
    } finally Dedup.dropIndex(s, "spec_lc")
  }

  test("Curation.annotate flags each filter independently and keep is " +
    "their conjunction; curate preserves schema") {
    val s = spark
    import s.implicits._
    val cfg = operators.Curation.Config(Set("en"), 3, 10, 0.4, 0.5, " ")
    val df = Seq(
      (1L, "the quick brown fox jumps"), // all pass
      (2L, "the the the the the"), // repetition fails (dup frac 0.8)
      (3L, "el es un la y de"), // lang fails (es)
      (4L, "the cat")) // too short
      .toDF("doc_id", "text")
    val ann = operators.Curation.annotate(df, "text", cfg)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("lang_ok"), r.getAs[Boolean]("len_ok"),
          r.getAs[Boolean]("rep_ok"), r.getAs[Boolean]("keep"))).toMap
    assert(ann(1L) == ((true, true, true, true)))
    assert(ann(2L)._3 == false && ann(2L)._4 == false)
    assert(ann(3L)._1 == false && ann(3L)._4 == false)
    assert(ann(4L)._2 == false && ann(4L)._4 == false)
    val kept = operators.Curation.curate(df, "text", cfg)
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    assert(kept.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("Curation rejects inputs whose columns collide with the verdict " +
      "names (withColumn would silently overwrite, curate would drop)") {
    val s = spark
    import s.implicits._
    val cfg = operators.Curation.Config(Set("en"), 1, 10, 0.9, 0.0, " ")
    val df = Seq((1L, "the quick brown fox", true))
      .toDF("doc_id", "text", "keep")
    val e = intercept[IllegalArgumentException] {
      operators.Curation.annotate(df, "text", cfg)
    }
    assert(e.getMessage.contains("keep"))
  }

  test("bucketedTopK only scores co-bucketed candidates") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0L, Array(1f, 1f)), (1L, Array(0.5f, 2f)), // bucket 3
      (2L, Array(-1f, 1f))) // bucket 2
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.bucketedTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", 5, 2).collect()
    assert(out.map(_.getAs[Long]("cand_id")).toSet == Set(1L))
  }

  test("text index lifecycle: idempotent append, delete, crash-safe compact") {
    val s = spark
    import s.implicits._
    import graft.sources.TextIndexLifecycle
    import java.nio.file.{Files, Paths}
    val root = s"/tmp/graft_textidx_spec_${System.nanoTime()}"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "alpha"))
      .toDF("doc_id", "text")
    def tokenDocs(tok: String): Set[Long] =
      TextIndexLifecycle.load(s, root, "text", "doc_id")
        .filter(col("token") === tok)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    TextIndexLifecycle.append(s, root, "text", "doc_id",
      docs.filter(col("doc_id") < 3), "b1")
    TextIndexLifecycle.append(s, root, "text", "doc_id",
      docs.filter(col("doc_id") === 3), "b2")
    // replayed tag is a no-op: no doubled postings
    TextIndexLifecycle.append(s, root, "text", "doc_id",
      docs.filter(col("doc_id") === 3), "b2")
    assert(TextIndexLifecycle.load(s, root, "text", "doc_id")
      .groupBy("doc_id", "token", "pos").count()
      .filter(col("count") > 1).isEmpty)
    assert(tokenDocs("alpha") == Set(1L, 3L))

    // delete visible immediately, physical after compact
    TextIndexLifecycle.delete(s, root, "text",
      Seq(1L).toDF("doc_id"), "doc_id", "d1")
    assert(tokenDocs("alpha") == Set(3L))
    TextIndexLifecycle.compact(s, root, "text", "doc_id")
    assert(tokenDocs("alpha") == Set(3L))
    assert(!Files.isDirectory(Paths.get(s"$root/text_text_tombstones")))

    // crash between the two compaction renames: live gone, tmp staged —
    // the next load recovers and answers correctly
    val live = Paths.get(s"$root/text_text")
    val tmp = Paths.get(s"$root/text_text_compact_tmp")
    Files.move(live, tmp)
    assert(tokenDocs("beta") == Set(2L))
    TextIndexLifecycle.deleteRoot(root)
  }

  test("staged-but-uncommitted appends are invisible; commitStaged " +
    "finishes them; partial vocab-fold markers re-fold without data loss") {
    val s = spark
    import s.implicits._
    import graft.sources.{IncrementalIndex, TextIndexLifecycle}
    val root = s"/tmp/graft_textidx_stage_${System.nanoTime()}"
    val b1 = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    TextIndexLifecycle.append(s, root, "text", "doc_id", b1, "b1")
    // crash BETWEEN stage and commit of a second batch: stage the
    // postings exactly as append would, then stop
    val ps = IncrementalIndex.Spec(root, "text_text", Some("tp"))
    val p2fixed = graft.operators.HybridTable.positionalTextIndex(
      Seq((9L, "zeta")).toDF("doc_id", "text"), "text", "doc_id")
      .withColumn("tp", graft.operators.TextMatch.tpCol(col("token")))
    val staged = IncrementalIndex.stage(s, ps, p2fixed, "b2")
    assert(staged.isDefined)
    // uncommitted: invisible to load AND to the vocab fold (no marker)
    assert(TextIndexLifecycle.load(s, root, "text", "doc_id")
      .filter(col("token") === "zeta").isEmpty)
    assert(!TextIndexLifecycle.loadVocab(s, root, "text").get
      .collect().map(_.getString(0)).contains("zeta"))
    // replayed append (the documented recovery) re-stages and commits
    TextIndexLifecycle.append(s, root, "text", "doc_id",
      Seq((9L, "zeta")).toDF("doc_id", "text"), "b2")
    assert(TextIndexLifecycle.load(s, root, "text", "doc_id")
      .filter(col("token") === "zeta").count() == 1)
    // vocab-fold partial-marker crash: fold b2 (loadVocab), then delete
    // its vocab marker — the re-fold appends a duplicate delta under a
    // NEW fold tag; distinct-at-read absorbs it, compact folds it
    assert(TextIndexLifecycle.loadVocab(s, root, "text").get
      .collect().map(_.getString(0)).toSet ==
      Set("alpha", "beta", "zeta"))
    val vs = IncrementalIndex.Spec(root, "text_text_vocab", Some("tp"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"${vs.tagsDir}/b2"))
    val refolded = TextIndexLifecycle.loadVocab(s, root, "text").get
      .collect().map(_.getString(0))
    assert(refolded.toSet == Set("alpha", "beta", "zeta") &&
      refolded.length == 3, "re-fold must stay distinct at read")
    TextIndexLifecycle.compact(s, root, "text", "doc_id")
    val phys = s.read.parquet(vs.liveDir).count()
    assert(phys == 3, s"compact must fold re-fold duplicates, got $phys")
    TextIndexLifecycle.deleteRoot(root)
  }

  test("persisted text index is tp-partitioned; term/phrase probes prune " +
    "to their partitions, wildcard probes stay correct") {
    val s = spark
    import s.implicits._
    import graft.sources.TextIndexLifecycle
    import graft.operators.TextMatch
    val root = s"/tmp/graft_textidx_tp_${System.nanoTime()}"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"),
      (3L, "alpha delta"), (4L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    TextIndexLifecycle.append(s, root, "text", "doc_id", docs, "b1")
    // on-disk layout: hive tp= dirs (letter sentinel + 1 hex char)
    val live = new java.io.File(
      TextIndexLifecycle.postingsDir(root, "text"))
    val tpDirs = live.listFiles().filter(_.isDirectory).map(_.getName)
    assert(tpDirs.nonEmpty && tpDirs.forall(n =>
      n.startsWith("tp=t") && n.length == 5), tpDirs.toSeq)
    val idx = TextIndexLifecycle.load(s, root, "text", "doc_id")
    val universe = docs.select(col("doc_id")).distinct()
    // a term probe reads ONLY its tp partition (executed-scan files)
    val termIds = TextMatch.compile(idx, universe, "doc_id",
      TextMatch.parse("alpha"))
    assert(termIds.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val tp = TextMatch.tpOf("alpha")
    val readFiles = idx.filter(col("tp") === tp)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(readFiles.nonEmpty && readFiles.forall(_.contains(s"tp=$tp")),
      readFiles.mkString(", "))
    // phrase prunes to its terms' partitions and still position-joins
    val phraseIds = TextMatch.compile(idx, universe, "doc_id",
      TextMatch.parse("\"gamma delta\""))
    assert(phraseIds.collect().map(_.getLong(0)).toSet == Set(4L))
    // wildcard/fuzzy probes (unknown tokens) scan all partitions, correct
    val wildIds = TextMatch.compile(idx, universe, "doc_id",
      TextMatch.parse("*amma"))
    assert(wildIds.collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    // driver-side tpOf matches the layout column for every indexed token
    val mismatches = idx.select(col("token"), col("tp")).distinct()
      .collect().filter(r => TextMatch.tpOf(r.getString(0)) != r.getString(1))
    assert(mismatches.isEmpty, mismatches.mkString(", "))
    // the term DICTIONARY rides alongside: one row per distinct token,
    // and dictionary-shaped probes resolve against it with identical
    // results to the postings-derived path
    val vocab = TextIndexLifecycle.loadVocab(s, root, "text")
    assert(vocab.isDefined)
    assert(vocab.get.collect().map(_.getString(0)).toSet ==
      Set("alpha", "beta", "gamma", "delta", "epsilon"))
    val fuzzyDict = TextMatch.compile(idx, universe, "doc_id",
      TextMatch.parse("alphaa~1"), vocab)
    assert(fuzzyDict.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val prefDict = TextMatch.compile(idx, universe, "doc_id",
      TextMatch.parse("gam*"), vocab)
    assert(prefDict.collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    // deletes do NOT touch the vocab — over-claiming is correct: after
    // every 'epsilon' doc retires, the token stays in the dictionary but
    // its dict-backed probe finds no postings rows
    TextIndexLifecycle.delete(s, root, "text",
      Seq(4L).toDF("doc_id"), "doc_id", "d_eps")
    val idx2 = TextIndexLifecycle.load(s, root, "text", "doc_id")
    val vocab2 = TextIndexLifecycle.loadVocab(s, root, "text")
    assert(vocab2.get.filter(col("token") === "epsilon").count() == 1)
    assert(TextMatch.compile(idx2, universe, "doc_id",
      TextMatch.parse("epsilon~1"), vocab2).isEmpty)
    // compact does NOT pay for the dictionary (lazy maintenance): b2's
    // fold happens at the next loadVocab — here via the exact-rebuild
    // path, because the compaction already rewrote b2's tag files into
    // the base. Retired epsilon stays (over-claiming from the earlier
    // fold), zeta appears from the rebuild.
    TextIndexLifecycle.append(s, root, "text", "doc_id",
      Seq((9L, "alpha zeta")).toDF("doc_id", "text"), "b2")
    TextIndexLifecycle.compact(s, root, "text", "doc_id")
    val v3 = TextIndexLifecycle.loadVocab(s, root, "text")
    assert(v3.get.collect().map(_.getString(0)).toSet ==
      Set("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    assert(TextMatch.compile(
      TextIndexLifecycle.load(s, root, "text", "doc_id"), universe,
      "doc_id", TextMatch.parse("zet*"), v3)
      .collect().map(_.getLong(0)).toSet == Set(9L))
    // a second compact merges the fold dust physically: one row per
    // distinct (token, tp)
    TextIndexLifecycle.compact(s, root, "text", "doc_id")
    val vocabDir = new java.io.File(s"$root/text_text_vocab")
    val physRows = s.read.parquet(vocabDir.getPath).count()
    assert(physRows == 6, s"expected 6 deduped vocab rows, got $physRows")
    TextIndexLifecycle.deleteRoot(root)
  }

  test("json index lifecycle preserves path= partition dirs on append") {
    val s = spark
    import s.implicits._
    import graft.sources.JsonIndexLifecycle
    val root = s"/tmp/graft_jsonidx_spec_${System.nanoTime()}"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "a string, b double")
    val docs = Seq(
      (1L, """{"a":"x","b":1}"""), (2L, """{"a":"y","b":2}"""))
      .toDF("id", "doc")
    JsonIndexLifecycle.append(s, root, "doc", "id", schema,
      docs.filter(col("id") === 1), "t1")
    JsonIndexLifecycle.append(s, root, "doc", "id", schema,
      docs.filter(col("id") === 2), "t2")
    JsonIndexLifecycle.append(s, root, "doc", "id", schema,
      docs.filter(col("id") === 2), "t2") // replay no-ops
    // appended files live under hive path= dirs with tag-prefixed names
    val live = new java.io.File(JsonIndexLifecycle.postingsDir(root, "doc"))
    val pathDirs = live.listFiles().filter(_.isDirectory).map(_.getName)
    assert(pathDirs.exists(_.startsWith("path=")), pathDirs.toSeq)
    assert(live.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .forall(f => f.getName.startsWith("tag-t")))
    val idx = JsonIndexLifecycle.load(s, root, "doc", "id")
    assert(idx.filter(col("path") === "$.a").count() == 2)
    JsonIndexLifecycle.delete(s, root, "doc", Seq(1L).toDF("id"), "id", "d")
    assert(JsonIndexLifecycle.load(s, root, "doc", "id")
      .filter(col("path") === "$.a").select("id").collect()
      .map(_.getLong(0)).toSet == Set(2L))
    JsonIndexLifecycle.compact(s, root, "doc", "id")
    assert(JsonIndexLifecycle.load(s, root, "doc", "id")
      .filter(col("path") === "$.a").count() == 1)
    JsonIndexLifecycle.deleteRoot(root)
  }

  test("legacy flat text index migrates to the tp layout on first touch; " +
    "pending tombstones fold and appends never mix layouts") {
    val s = spark
    import s.implicits._
    import graft.sources.TextIndexLifecycle
    import graft.operators.TextMatch
    import java.nio.file.{Files, Paths}
    val root = s"/tmp/graft_textidx_legacy_${System.nanoTime()}"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    // round-11 layout: flat postings (no tp column) straight in the live
    // dir, no vocab sidecar
    val liveDir = TextIndexLifecycle.postingsDir(root, "text")
    graft.operators.HybridTable.positionalTextIndex(docs, "text", "doc_id")
      .coalesce(1).write.parquet(liveDir)
    // a tombstone recorded against the flat layout folds during migration
    TextIndexLifecycle.delete(s, root, "text",
      Seq(2L).toDF("doc_id"), "doc_id", "d0")
    val idx = TextIndexLifecycle.load(s, root, "text", "doc_id")
    assert(idx.columns.contains("tp"))
    assert(idx.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L))
    // physically rewritten: tp= subdirs, no flat files, tombstones gone
    val live = new java.io.File(liveDir)
    assert(!live.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")))
    assert(live.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("tp=")))
    assert(!Files.isDirectory(Paths.get(s"$root/text_text_tombstones")))
    // appends after migration land partitioned and probe correctly
    TextIndexLifecycle.append(s, root, "text", "doc_id",
      Seq((3L, "gamma delta")).toDF("doc_id", "text"), "b1")
    val universe = Seq(1L, 2L, 3L).toDF("doc_id")
    val ids = TextMatch.compile(
      TextIndexLifecycle.load(s, root, "text", "doc_id"),
      universe, "doc_id", TextMatch.parse("gamma"))
    assert(ids.collect().map(_.getLong(0)).toSet == Set(3L))
    TextIndexLifecycle.deleteRoot(root)
  }

  test("interrupted vocab compaction swap heals at loadVocab") {
    val s = spark
    import s.implicits._
    import graft.sources.TextIndexLifecycle
    import java.nio.file.{Files, Paths}
    val root = s"/tmp/graft_textidx_vrec_${System.nanoTime()}"
    TextIndexLifecycle.append(s, root, "text", "doc_id",
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "b1")
    // materialize the lazy dictionary, then simulate a compaction crash
    // between the swap's two renames: live gone, tmp staged
    assert(TextIndexLifecycle.loadVocab(s, root, "text").isDefined)
    Files.move(Paths.get(s"$root/text_text_vocab"),
      Paths.get(s"$root/text_text_vocab_compact_tmp"))
    val vocab = TextIndexLifecycle.loadVocab(s, root, "text")
    assert(vocab.isDefined, "recover must heal before the exists probe")
    assert(vocab.get.collect().map(_.getString(0)).toSet ==
      Set("alpha", "beta"))
    TextIndexLifecycle.deleteRoot(root)
  }

  test("a crash between the vocab and postings appends leaves an " +
    "over-claiming dictionary; replaying the tag completes the batch") {
    val s = spark
    import s.implicits._
    import graft.sources.{IncrementalIndex, TextIndexLifecycle}
    import graft.operators.TextMatch
    val root = s"/tmp/graft_textidx_vfirst_${System.nanoTime()}"
    val b1 = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val b2 = Seq((9L, "zeta")).toDF("doc_id", "text")
    TextIndexLifecycle.append(s, root, "text", "doc_id", b1, "b1")
    // simulate append(b2) dying after its FIRST commit (the vocab):
    // replicate exactly the vocab rows + tag the real append writes
    val vs = IncrementalIndex.Spec(root, "text_text_vocab", Some("tp"))
    IncrementalIndex.append(s, vs,
      graft.operators.HybridTable.positionalTextIndex(b2, "text", "doc_id")
        .select(col("token")).distinct()
        .withColumn("tp", TextMatch.tpCol(col("token"))), "b2")
    val universe = Seq(1L, 9L).toDF("doc_id")
    def probe(q: String): Set[Long] = TextMatch.compile(
      TextIndexLifecycle.load(s, root, "text", "doc_id"), universe,
      "doc_id", TextMatch.parse(q),
      TextIndexLifecycle.loadVocab(s, root, "text"))
      .collect().map(_.getLong(0)).toSet
    // over-claiming window: 'zeta' is in the dictionary, its postings
    // are not yet — dictionary probes find NOTHING (correct), while b1
    // stays fully visible
    assert(probe("zet*") == Set.empty[Long])
    assert(probe("alpha") == Set(1L))
    // the documented recovery: replay the batch tag — vocab no-ops on
    // its marker, postings commit, probes light up
    TextIndexLifecycle.append(s, root, "text", "doc_id", b2, "b2")
    assert(probe("zet*") == Set(9L))
    TextIndexLifecycle.deleteRoot(root)
  }

  test("zorder: interleave bits, quantize edges, clustering beats 1-col sort") {
    val s = spark
    import s.implicits._
    import graft.operators.Layout
    // hand-checked Morton interleave: x=0b101 (cols idx 0 → even bits),
    // y=0b011 (odd bits) → z = 1<<0 | 1<<4 | 1<<1 | 1<<3 = 0b11011
    val one = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.interleaveBits(Seq(col("x"), col("y")), 3).as("z"))
    assert(one.head().getLong(0) == 0x1BL)
    // quantize edges: lo→0, hi→top bucket, constant column → 0
    val edges = Seq(0.0, 50.0, 100.0).toDF("v")
      .select(Layout.quantize(col("v"), 0.0, 100.0, 4).as("q"))
      .collect().map(_.getLong(0))
    assert(edges.toSeq == Seq(0L, 8L, 15L))
    assert(Seq(7.0).toDF("v")
      .select(Layout.quantize(col("v"), 7.0, 7.0, 4)).head().getLong(0) == 0L)

    // clustering: on a 64×64 grid, z-order partitions touch a small
    // window of BOTH dims; sorting by x alone leaves y unclustered
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("x", "y")
    def meanSpan(df: org.apache.spark.sql.DataFrame, c: String): Double = {
      val rows = Layout.clusteringSpan(df, Seq("x", "y")).collect()
      rows.map(r => r.getAs[Double](s"hi_$c") - r.getAs[Double](s"lo_$c"))
        .sum / rows.length / 63.0
    }
    val (withZ, _) = Layout.withZValue(grid, Seq("x", "y"), bits = 6)
    val zParts = withZ.repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z").drop("__z")
    val xParts = grid.repartitionByRange(16, col("x"), col("y"))
    val (zy, xy) = (meanSpan(zParts, "y"), meanSpan(xParts, "y"))
    assert(zy < 0.5 * xy, s"z-order y-span $zy !< half of x-sort y-span $xy")

    // zorderWrite round-trips content exactly
    val out = s"/tmp/graft_zorder_${System.nanoTime()}"
    Layout.zorderWrite(grid, Seq("x", "y"), out, nFiles = 8, bits = 6)
    val back = spark.read.parquet(out)
    assert(back.count() == 64 * 64 &&
      back.except(grid).isEmpty && grid.except(back).isEmpty)
  }

  test("funnel: greedy-earliest anchor, strict order, window bound") {
    val s = spark
    import s.implicits._
    import graft.operators.Funnel
    def t(m: Int) = ts(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")
    val ev = Seq(
      // u1 completes A->B->C in order
      (1L, t(0), "A"), (1L, t(5), "B"), (1L, t(10), "C"),
      // u2: B before A never counts; reaches only step 1
      (2L, t(0), "B"), (2L, t(5), "A"),
      // u3: same-timestamp B as the A anchor is NOT strictly after
      (3L, t(0), "A"), (3L, t(0), "B"),
      // u4: B lands outside the 10-min window from the anchor
      (4L, t(0), "A"), (4L, t(20), "B"),
      // u5: greedy-earliest anchor at t0 (window misses the later B->C),
      // even though anchoring at t(30) would have completed — documented
      (5L, t(0), "A"), (5L, t(30), "A"), (5L, t(35), "B"),
      // u6: no A at all -> absent from output
      (6L, t(0), "C"))
      .toDF("user_id", "ts", "event_type")
    val steps = Seq(col("event_type") === "A", col("event_type") === "B",
      col("event_type") === "C")
    val m = Funnel.matchSteps(ev, "user_id", "ts", steps, windowSec = 600)
      .orderBy("user_id").collect()
    assert(m.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(m.map(_.getAs[Int]("steps_matched")).toSeq == Seq(3, 1, 1, 1, 1))
    assert(m(0).getAs[java.sql.Timestamp]("t_3") == t(10))
    val c = Funnel.count(ev, "user_id", "ts", steps, windowSec = 600)
      .orderBy("step").collect()
    assert(c.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 5L), (2, 1L), (3, 1L)))
    // FUNNEL_COMPLETE_COUNT: only u1 completes all three
    assert(Funnel.completeCount(ev, "user_id", "ts", steps, 600)
      .head().getLong(0) == 1L)
    // per-step window: u4's B at +20min is outside a 10-min ANCHOR
    // window but INSIDE a 25-min per-step window (gap = 20min); u1's C
    // at +10min has a 5-min gap from B — both complete under PerStep
    val ps = Funnel.matchSteps(ev, "user_id", "ts", steps,
        windowSec = 1500, mode = Funnel.WindowMode.PerStep)
      .orderBy("user_id").collect()
    assert(ps.map(r => (r.getLong(0), r.getAs[Int]("steps_matched")))
      .toMap.apply(4L) == 2)
    // anchor mode at the same 25-min window: u5's anchor at t0 still
    // misses (B at +35min > 25min from anchor), but per-step B is only
    // 5min after the second A — yet greedy anchors at t0, so the gap
    // from t_1 is 35min; PerStep measures step2 from t_1 too → still 1
    assert(ps.map(r => (r.getLong(0), r.getAs[Int]("steps_matched")))
      .toMap.apply(5L) == 1)
    assert(ps.map(r => (r.getLong(0), r.getAs[Int]("steps_matched")))
      .toMap.apply(1L) == 3)
  }

  test("reservoirPerKey: exact per-key counts, determinism, small groups") {
    val s = spark
    import s.implicits._
    val df = (1L to 40L).map(i => (i, if (i <= 30) "big" else "small"))
      .toDF("id", "src")
    val out = graft.operators.Sampling
      .reservoirPerKey(df, Seq("src"), "id", k = 8)
    val counts = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 8L, "small" -> 8L)) // min(k, |group|=10)...
    // groups smaller than k keep everything
    val tiny = graft.operators.Sampling
      .reservoirPerKey(df.filter(col("id") > 38), Seq("src"), "id", k = 8)
    assert(tiny.count() == 2)
    // same salt -> identical sample at different parallelism
    val a = out.select("id").collect().map(_.getLong(0)).toSet
    val b = graft.operators.Sampling
      .reservoirPerKey(df.repartition(7), Seq("src"), "id", k = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // different salt -> (almost surely) different sample
    val c = graft.operators.Sampling
      .reservoirPerKey(df, Seq("src"), "id", k = 8, salt = "other")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a != c)
    // ranks are 1..k within each key
    assert(out.filter(col("src") === "big")
      .select("sample_rank").collect().map(_.getInt(0)).sorted.toSeq
      == (1 to 8))
  }

  test("bpeDecode inverts markWordEnd encode across all three tiers") {
    val s = spark
    import s.implicits._
    import graft.operators.Vocab
    val docs = Seq(
      (1L, "low  LOWER newest"), // mixed case + double space normalize
      (2L, "c++! low"), // pass-through token keeps marker semantics
      (3L, "")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"))
    val expect = Seq("low lower newest", "c++! low", "")
    for ((ecm, bvm) <- Seq((64, 2000000L), (0, 2000000L), (0, 0L))) {
      val dec = Vocab.bpeEncode(docs, "text", merges,
          exprChainMax = ecm, broadcastVocabMax = bvm, markWordEnd = true)
        .select(col("doc_id"), Vocab.bpeDecode(col("subwords")).as("t"))
        .orderBy("doc_id").collect().map(_.getString(1))
      assert(dec.toSeq == expect, s"tier ecm=$ecm bvm=$bvm")
    }
    // marked segmentation carries the boundary on the LAST subword only
    val marked = Vocab.bpeEncode(Seq((1L, "lower low"))
        .toDF("doc_id", "text"), "text", merges, markWordEnd = true)
      .head().getSeq[String](2)
    assert(marked == Seq("low", "er</w>", "low</w>"))
  }

  test("rrfFuse: missing-list docs, score formula, deterministic ties") {
    val s = spark
    import s.implicits._
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val dense = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = graft.operators.Retrieval
      .rrfFuse(Seq("lex" -> lex, "dense" -> dense), "doc_id", k = 10, k0 = 60)
      .orderBy("rank").collect()
    // doc 20 is in both lists -> top; 10 (lex#1) beats 40 (dense#2);
    // ties impossible here, but 30 (lex#3) scores 1/63
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(20L, 10L, 40L, 30L))
    val top = out.head
    assert(math.abs(top.getAs[Double]("rrf") - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(top.getAs[Int]("lex_rank") == 2 && top.getAs[Int]("dense_rank") == 1)
    // doc 10 has no dense rank -> null column, single-term score
    val d10 = out(1)
    assert(d10.isNullAt(d10.fieldIndex("dense_rank")))
    assert(math.abs(d10.getAs[Double]("rrf") - 1.0 / 61) < 1e-12)
    // equal-score tie (lex#4 only vs dense#4 only) breaks by doc_id
    val lex2 = Seq((5L, 4)).toDF("doc_id", "rank")
    val dense2 = Seq((3L, 4)).toDF("doc_id", "rank")
    val tied = graft.operators.Retrieval
      .rrfFuse(Seq("lex" -> lex2, "dense" -> dense2), "doc_id", k = 2)
      .orderBy("rank").collect()
    assert(tied.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 5L))
  }

  test("rrfFuseBy: per-group fusion, ranks and cuts independent per query") {
    val s = spark
    import s.implicits._
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 30L, 1))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 20L, 1), (2L, 40L, 1), (2L, 30L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = graft.operators.Retrieval
      .rrfFuseBy(Seq("lex" -> lex, "dense" -> dense), "doc_id", "query_id",
        k = 2, k0 = 60)
      .orderBy("query_id", "rank").collect()
    // q1: doc 20 in both lists wins over lex-only doc 10; q2: doc 30 in
    // both (ranks 1+2) beats dense-only doc 40 — groups never mix
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(5))).toSeq ==
      Seq((1L, 20L, 1), (1L, 10L, 2), (2L, 30L, 1), (2L, 40L, 2)))
    val q2top = out(2)
    assert(math.abs(q2top.getAs[Double]("rrf") -
      (1.0 / 61 + 1.0 / 62)) < 1e-12)
    // batch ranking against a HAND-DERIVED expectation (hybridTopK now
    // DELEGATES to hybridTopKBatch, so comparing the two would be the
    // implementation against itself — the independent cross-check lives
    // here as worked-out ground truth, and in the DuckDB oracles of
    // q_hybrid_rrf / q_hybrid_rrf_batch).
    // q100 (terms=alpha, qvec=(1,0)): lex ranks docs 1,2 (equal BM25,
    //   id tie-break); dense ranks 1(cos 1.0), 2(0.6), 3(0.0) →
    //   rrf: d1 2/61 > d2 2/62 > d3 1/63 → ranks 1,2,3.
    // q200 (terms=delta, qvec=(0,1)): lex ranks doc 3 only; dense
    //   3(1.0), 2(0.8), 1(0.0) → d3 2/61 > d2 1/62 > d1 1/63.
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0.6f, 0.8f)),
      (3L, Array(0f, 1f))).toDF("doc_id", "embedding")
    val queries = Seq((100L, Seq("alpha"), Seq(1f, 0f)),
      (200L, Seq("delta"), Seq(0f, 1f))).toDF("query_id", "terms", "qvec")
    val batch = graft.operators.Retrieval.hybridTopKBatch(
        docs, emb, "doc_id", "text", "embedding", queries, k = 3)
      .select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch == Set(
      (100L, 1L, 1), (100L, 2L, 2), (100L, 3L, 3),
      (200L, 3L, 1), (200L, 2L, 2), (200L, 1L, 3)))
    // the single-query wrapper projects the batch's query id away and
    // keeps the fused output shape
    val single = graft.operators.Retrieval.hybridTopK(docs, emb,
      "doc_id", "text", "embedding", Seq("alpha"), Seq(1f, 0f), k = 3)
    assert(single.columns.toSeq ==
      Seq("doc_id", "lex_rank", "dense_rank", "rrf", "rank"))
    assert(single.select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 1), (2L, 2), (3L, 3)))
  }

  test("hybridTopKBatchIvf: probes prune the dense tier; full probe " +
    "equals the brute batch") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    // two well-separated clusters: docs 1,2 near (1,0); doc 3 near (0,1)
    val emb = Seq((1L, Array(1f, 0.1f)), (2L, Array(0.9f, 0f)),
      (3L, Array(0.1f, 1f))).toDF("doc_id", "embedding")
    val queries = Seq((100L, Seq("delta"), Seq(1f, 0f)))
      .toDF("query_id", "terms", "qvec")
    val cells = Array(Array(1f, 0f), Array(0f, 1f))
    // nProbe=1: the query vector probes cell 0 only — doc 3 (cell 1) can
    // take no dense rank, but its lexical match still surfaces it
    val pruned = graft.operators.Retrieval.hybridTopKBatchIvf(docs, emb,
      "doc_id", "text", "embedding", queries, cells, nProbe = 1, k = 3)
    val d3 = pruned.filter(col("doc_id") === 3L).collect()
    assert(d3.length == 1 && d3.head.isNullAt(d3.head.fieldIndex("dense_rank")))
    assert(d3.head.getAs[Int]("lex_rank") == 1)
    assert(pruned.filter(col("dense_rank").isNotNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // nProbe = nCells: every cell probed — identical output to the brute
    // batch tier, row for row
    val full = graft.operators.Retrieval.hybridTopKBatchIvf(docs, emb,
        "doc_id", "text", "embedding", queries, cells, nProbe = 2, k = 3)
      .orderBy("rank").collect()
    val brute = graft.operators.Retrieval.hybridTopKBatch(docs, emb,
        "doc_id", "text", "embedding", queries, k = 3)
      .orderBy("rank").collect()
    assert(full.map(_.toSeq).toSeq == brute.map(_.toSeq).toSeq)
  }

  test("slidingChunks: overlap, short tail, empty docs emit nothing") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c d e f g"), // 7 tokens
      (2L, "x y"), // fits in one window
      (3L, "   ")) // zero tokens
      .toDF("doc_id", "text")
    val out = graft.operators.Packing
      .slidingChunks(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
      .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[String]("chunk"),
        r.getAs[Long]("n_tokens")))
    assert(d1.toSeq == Seq(
      (0L, "a b c d", 4L), // tokens 0-3
      (1L, "d e f g", 4L), // tokens 3-6 (1-token overlap)
      (2L, "g", 1L))) // short tail at start 6
    assert(out.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk"))
      .toSeq == Seq("x y"))
    assert(!out.exists(_.getLong(0) == 3L))
  }

  test("edge hardening: funnel zero-match, zorder empty/all-null, NaN cosine, tombstone crash window") {
    val s = spark
    import s.implicits._
    // Funnel.count over a corpus where NO user matches step 1: every
    // step must report 0 (not NULL from a sum over an empty aggregate)
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), "X"))
      .toDF("user_id", "ts", "event_type")
    val c = graft.operators.Funnel.count(ev, "user_id", "ts",
        Seq(col("event_type") === "A", col("event_type") === "B"), 600)
      .orderBy("step").collect()
    assert(c.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 0L), (2, 0L)))

    // withZValue on an empty frame and an all-null column: constant-path
    // fallback, no NPE; z computes to 0 for null-range columns
    import graft.operators.Layout
    val empty = Seq.empty[(Int, Int)].toDF("x", "y")
    val (ez, er) = Layout.withZValue(empty, Seq("x", "y"), bits = 4)
    assert(ez.count() == 0L && er("x") == ((0.0, 0.0)))
    val nulls = Seq((Some(1), Option.empty[Int]), (Some(3), None))
      .toDF("x", "y")
    val (nz, nr) = Layout.withZValue(nulls, Seq("x", "y"), bits = 4)
    assert(nr("y") == ((0.0, 0.0)) && nz.count() == 2L)

    // zero-norm embedding must NOT ride NaN to the top of the dense list
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 0f))) // zero-norm: cosine would be 0/0 = NaN
      .toDF("doc_id", "embedding")
    val fused = graft.operators.Retrieval.hybridTopK(docs, emb, "doc_id",
      "text", "embedding", Seq("alpha"), Seq(1f, 0f), k = 3)
    val denseRanked = fused.filter(col("dense_rank").isNotNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!denseRanked.contains(3L), "zero-norm doc must have no dense rank")
    assert(fused.orderBy("rank").head().getAs[Long]("doc_id") == 1L)

    // IncrementalIndex: crash between compact's two rmTrees (retiring
    // still present, tombstones maybe present) — recover() must clear
    // BOTH, so a re-appended previously-deleted id is never silently
    // filtered by stale tombstones
    import graft.sources.IncrementalIndex
    val root = s"/tmp/graft_incidx_${System.nanoTime()}"
    val spec = IncrementalIndex.Spec(root, "idx", None)
    IncrementalIndex.append(s, spec,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t1")
    IncrementalIndex.delete(s, spec, Seq(2L).toDF("id"), "id", "d1")
    IncrementalIndex.compact(s, spec, "id")
    // simulate the mid-cleanup crash state: live is compacted, retiring
    // and tombstones both still on disk
    IncrementalIndex.load(s, spec, "id").write.mode("overwrite")
      .parquet(spec.retiringDir)
    Seq(2L).toDF("id").write.mode("overwrite")
      .parquet(s"${spec.tombsDir}/tag=stale")
    IncrementalIndex.append(s, spec, Seq((2L, "b2")).toDF("id", "v"), "t2")
    val live = IncrementalIndex.load(s, spec, "id")
    assert(live.count() == 2L, "re-appended id filtered by stale tombstones")
    assert(!new java.io.File(spec.tombsDir).isDirectory)
    assert(!new java.io.File(spec.retiringDir).isDirectory)
    IncrementalIndex.rmTree(root)

    // empty FIRST batch: the append commits its marker but writes no
    // files — exists() must read false (a probe would otherwise crash
    // schema inference on the fileless dir), the empty replay no-ops,
    // and the incremental probe sequence stays correct end-to-end
    graft.operators.Dedup.dropIndex(s, "spec_empty")
    val none = Seq.empty[(Long, String)].toDF("id", "text")
    assert(graft.operators.Dedup.incrementalExact(s, none, "text", "id",
      "spec_empty", batchTag = Some("e1")).count() == 0L)
    assert(!graft.operators.Dedup.indexExists(s, "spec_empty"))
    assert(graft.operators.Dedup.indexHasTag(s, "spec_empty", "e1"))
    val b = Seq((1L, "aa"), (2L, "aa")).toDF("id", "text")
    assert(graft.operators.Dedup.incrementalExact(s, b, "text", "id",
        "spec_empty", batchTag = Some("e2"))
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // replayed empty batch after data landed still returns nothing and
    // removes nothing
    assert(graft.operators.Dedup.incrementalExact(s, none, "text", "id",
      "spec_empty", batchTag = Some("e1")).count() == 0L)
    assert(graft.operators.Dedup.loadIndex(s, "spec_empty").count() == 1L)
    graft.operators.Dedup.dropIndex(s, "spec_empty")
  }

  test("phrase blocklist: token-stream matching (no substring hits), " +
      "multi-word consecutive-only phrases, case-insensitive, short-doc " +
      "edge, literal ≡ broadcast-semi tier") {
    import graft.operators.Curation
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the class is great"),  // "ass" must NOT hit inside "class"
      (2L, "this is ASS content"), // case-insensitive token hit
      (3L, "a big data story"),    // 2-token phrase hit
      (4L, "big story about data"),// non-consecutive → no hit
      (5L, "big data"),            // doc IS the phrase
      (6L, "big"))                 // short-doc 2-shingle = "big" → no hit
      .toDF("doc_id", "text")
    val bad = Seq("ass", "Big Data") // list itself normalizes
    val got = docs.select(col("doc_id"),
        Curation.phraseHit(col("text"), bad).as("b"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false,
      5L -> true, 6L -> false))
    val semi = Curation.badPhraseIds(docs, "text", "doc_id",
        bad.toDF("phrase")).collect().map(_.getLong(0)).toSet
    assert(semi == Set(2L, 3L, 5L))
    assert(Curation.filterBadPhrases(docs, "text", bad)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 6L))
  }
}
