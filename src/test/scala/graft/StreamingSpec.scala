package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Structured-Streaming ingestion semantics (SURVEY §2.9): micro-batch ≈
  * segment seal; rollup, dedup, upsert over an in-memory stream. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming rollup pre-aggregates per bucket (ingestion rollup)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "k", "v")
    val out = Streams.rollup(df, "ts", Seq("k"), "v", 3600)
    val q = out.writeStream.format("memory").queryName("rollup_t")
      .outputMode("update").start()
    mem.addData(
      (ts("2024-01-01 00:10:00"), "a", 1.0),
      (ts("2024-01-01 00:50:00"), "a", 2.0),
      (ts("2024-01-01 01:10:00"), "a", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT k, bucket, cnt, sum_val FROM rollup_t")
      .orderBy("bucket").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("cnt") == 2 &&
      rows(0).getAs[Double]("sum_val") == 3.0)
    assert(rows(1).getAs[Long]("cnt") == 1)
  }

  test("streaming upsert keeps newest by event time, ignores out-of-order") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Streams.UpsertEvent]
    val out = Streams.upsertLatest(mem.toDS())
    val q = out.writeStream.format("memory").queryName("upsert_t")
      .outputMode("update").start()
    mem.addData(Streams.UpsertEvent(1L, "click", 100L, 1.0))
    q.processAllAvailable()
    mem.addData(Streams.UpsertEvent(1L, "click", 300L, 3.0),
      Streams.UpsertEvent(1L, "click", 200L, 2.0)) // out-of-order ignored
    q.processAllAvailable()
    q.stop()
    val last = s.sql(
      "SELECT value FROM upsert_t WHERE ts = (SELECT max(ts) FROM upsert_t)")
      .head().getDouble(0)
    assert(last == 3.0)
  }

  test("streaming upsert delete flag tombstones; late old write can't revive") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Streams.DeletableEvent]
    val q = Streams.upsertLatestWithDeletes(mem.toDS())
      .writeStream.format("memory").queryName("upsert_del_t")
      .outputMode("update").start()
    mem.addData(Streams.DeletableEvent(1L, "click", 100L, 1.0, false))
    q.processAllAvailable()
    mem.addData(Streams.DeletableEvent(1L, "click", 200L, 0.0, true)) // delete
    q.processAllAvailable()
    mem.addData(Streams.DeletableEvent(1L, "click", 150L, 9.0, false)) // late
    q.processAllAvailable()
    val afterLate = s.sql("""SELECT tombstoned FROM upsert_del_t
      WHERE ts = (SELECT max(ts) FROM upsert_del_t)""").head().getBoolean(0)
    assert(afterLate) // still tombstoned — the late older write lost
    mem.addData(Streams.DeletableEvent(1L, "click", 300L, 7.0, false))
    q.processAllAvailable()
    q.stop()
    val revived = s.sql("""SELECT value, tombstoned FROM upsert_del_t
      WHERE ts = 300""").head()
    assert(revived.getDouble(0) == 7.0 && !revived.getBoolean(1))
  }

  test("upsert with deletes restarts from a local checkpoint: a stray " +
      "offsets .tmp is ignored, state reads back from delta files, no batch " +
      "is re-emitted") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-ckpt")
    val ckpt = dir.resolve("ckpt")
    val mem = MemoryStream[Streams.DeletableEvent]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Streams.DeletableOut])]
    def start() = Streams.upsertLatestWithDeletes(mem.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.DeletableOut],
                       id: Long) => emitted += id -> b.collect().toSeq; () }
      .start()
    val q1 = start()
    mem.addData(Streams.DeletableEvent(1L, "click", 100L, 1.0, false),
      Streams.DeletableEvent(2L, "view", 100L, 2.0, false))
    q1.processAllAvailable()
    mem.addData(Streams.DeletableEvent(1L, "click", 200L, 0.0, true)) // delete
    q1.processAllAvailable()
    q1.stop()
    // a crash mid-write of the next offset file leaves its temp file
    java.nio.file.Files.write(ckpt.resolve("offsets").resolve(
      s".2.${java.util.UUID.randomUUID()}.tmp"), "v1\n{".getBytes("UTF-8"))
    // while the writer is down: a late older write of the deleted key and
    // a newer write of the other key
    mem.addData(Streams.DeletableEvent(1L, "click", 150L, 9.0, false),
      Streams.DeletableEvent(2L, "view", 300L, 3.0, false))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val stateFiles = java.nio.file.Files.walk(ckpt.resolve("state"))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(stateFiles.contains("1.delta") && stateFiles.contains("2.delta"))
    assert(emitted.map(_._1) == Seq(0L, 1L, 2L)) // batches 0-1 not re-run
    val afterRestart = emitted.last._2
      .map(o => (o.userId, o.eventType) -> o).toMap
    // the tombstone came back from the delta files: the late write lost
    assert(afterRestart((1L, "click")) ==
      Streams.DeletableOut(1L, "click", 200L, 0.0, tombstoned = true))
    assert(afterRestart((2L, "view")) ==
      Streams.DeletableOut(2L, "view", 300L, 3.0, tombstoned = false))
  }

  test("checkpoint file manager: local roots commit through the FileSystem " +
      "API, other schemes keep Spark's choice, no-overwrite still throws") {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
    import graft.streaming.GraftCheckpointFileManager
    import graft.testkit.FakeSchemeFs
    val dir = java.nio.file.Files.createTempDirectory("graft-cfm").toString
    val conf = spark.sessionState.newHadoopConf()
    def graftManager(p: Path): GraftCheckpointFileManager =
      CheckpointFileManager.create(p, conf) match {
        case m: GraftCheckpointFileManager => m
        case other => fail(s"session conf did not select the manager: $other")
      }
    for (p <- Seq(new Path(s"file:$dir"), new Path(dir))) // no scheme: fs.defaultFS
      assert(graftManager(p).delegate
        .isInstanceOf[FileSystemBasedCheckpointFileManager], p)
    // a non-local scheme gets exactly the manager Spark would pick
    conf.set(s"fs.AbstractFileSystem.${FakeSchemeFs.Scheme}.impl",
      classOf[FakeSchemeFs].getName)
    val remote = new Path(s"${FakeSchemeFs.Scheme}://$dir")
    assert(graftManager(remote).delegate
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(GraftCheckpointFileManager.isLocalScheme("file"))
    assert(!Seq("hdfs", "s3a", "abfss", FakeSchemeFs.Scheme)
      .exists(GraftCheckpointFileManager.isLocalScheme))

    // HDFSMetadataLog detects a second writer of a batch by this throw
    val fm = graftManager(new Path(s"file:$dir"))
    val f = new Path(s"file:$dir/0")
    def write(overwrite: Boolean, text: String): Unit = {
      val out = fm.createAtomic(f, overwriteIfPossible = overwrite)
      out.write(text.getBytes("UTF-8"))
      try out.close() catch { case e: Throwable => out.cancel(); throw e }
    }
    def read(): String = {
      val in = fm.open(f)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write(overwrite = false, "first")
    intercept[FileAlreadyExistsException](write(overwrite = false, "second"))
    assert(read() == "first")
    // overwriting is best effort (Spark's contract): it must not throw;
    // whether the file is replaced is up to the FileSystem's rename
    write(overwrite = true, "third")
    assert(Set("first", "third")(read()))
    // a state-store style overwrite leaves one committed file, and no
    // temp file or its checksum beside it
    val sub = new Path(s"file:$dir/state")
    val delta = new Path(sub, "1.delta")
    for (text <- Seq("v1", "v2")) {
      val out = fm.createAtomic(delta, overwriteIfPossible = true)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    val left = new java.io.File(sub.toUri.getPath).list().toSeq
    assert(left.filterNot(_.startsWith(".")) == Seq("1.delta"), left)
    assert(!left.exists(_.contains(".tmp")), left)
  }

  test("streaming partial upsert merges strategies incrementally") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Streams.UpsertEvent]
    val out = Streams.upsertPartial(mem.toDS())
    val q = out.writeStream.format("memory").queryName("upsert_p")
      .outputMode("update").start()
    mem.addData(Streams.UpsertEvent(1L, "click", 100L, 5.0),
      Streams.UpsertEvent(1L, "view", 200L, 3.0))
    q.processAllAvailable()
    mem.addData(Streams.UpsertEvent(1L, "purchase", 150L, 7.0))
    q.processAllAvailable()
    q.stop()
    val r = s.sql("SELECT maxV, sumV, lastV, types FROM upsert_p " +
      "ORDER BY sumV DESC LIMIT 1").head()
    assert(r.getDouble(0) == 7.0)   // MAX
    assert(r.getDouble(1) == 15.0)  // INCREMENT
    assert(r.getDouble(2) == 3.0)   // OVERWRITE: ts=200 still latest
    assert(r.getSeq[String](3) == Seq("click", "purchase", "view")) // UNION
  }

  test("session windows group events by inactivity gap (superset)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "k", "v")
    val out = df.withWatermark("ts", "1 hour")
      .groupBy(col("k"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val q = out.writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 00:00:00"), "a", 1.0),
      (ts("2024-01-01 00:05:00"), "a", 2.0),  // same session (gap 5m)
      (ts("2024-01-01 01:00:00"), "a", 4.0))  // new session (gap 55m)
    q.processAllAvailable()
    // advance the watermark past both sessions so append finalizes them
    mem.addData((ts("2024-01-01 05:00:00"), "b", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT n, sv FROM sess_t WHERE k = 'a' ORDER BY n DESC")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n") == 2 && rows(0).getAs[Double]("sv") == 3.0)
    assert(rows(1).getAs[Long]("n") == 1 && rows(1).getAs[Double]("sv") == 4.0)
  }

  test("micro-batch parquet sink seals segments; batch read-back matches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-seal").toString
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "k", "v")
    val q = df.writeStream.format("parquet")
      .option("path", s"$dir/data")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 00:00:01"), "a", 1.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 00:00:02"), "b", 2.0),
      (ts("2024-01-01 00:00:03"), "a", 3.0))
    q.processAllAvailable()
    q.stop()
    // sealed segments are plain parquet — the offline (batch) path reads
    // them directly, like realtime→offline converted segments
    val back = s.read.parquet(s"$dir/data")
    assert(back.count() == 3)
    assert(back.agg(sum(col("v"))).head().getDouble(0) == 6.0)
  }

  test("seal sink restart from checkpoint is exactly-once (no dup rows)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-eo").toString
    val mem = MemoryStream[(Timestamp, Long)]
    def start() = mem.toDF().toDF("ts", "id").writeStream.format("parquet")
      .option("path", s"$dir/data")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    val q1 = start()
    mem.addData((ts("2024-01-01 00:00:01"), 1L), (ts("2024-01-01 00:00:02"), 2L))
    q1.processAllAvailable()
    q1.stop()
    // rows arriving while the writer is down are picked up after restart
    mem.addData((ts("2024-01-01 00:00:03"), 3L))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val back = s.read.parquet(s"$dir/data")
    assert(back.count() == 3) // batch 0 not re-emitted after restart
    assert(back.select(col("id")).distinct().count() == 3)
  }

  test("realtime-to-offline: end-to-end seal, move, hybrid query exact") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-r2o").toString
    val mem = MemoryStream[(Timestamp, String, Double)]
    // 1. realtime ingest: micro-batches seal into realtime segments
    val q = mem.toDF().toDF("ts", "k", "v").writeStream.format("parquet")
      .option("path", s"$dir/realtime")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 00:10:00"), "a", 1.0),
      (ts("2024-01-01 00:20:00"), "b", 2.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 01:10:00"), "a", 4.0),
      (ts("2024-01-01 01:20:00"), "b", 8.0))
    q.processAllAvailable()
    q.stop()

    // 2. the minion task moves the first hour below the boundary offline
    val boundary = ts("2024-01-01 01:00:00")
    graft.sources.Ingest.realtimeToOffline(s, s"$dir/realtime",
      s"$dir/offline", "ts", boundary)
    val offline = s.read.parquet(s"$dir/offline")
    assert(offline.count() == 2) // exactly the pre-boundary window moved

    // 3. hybrid view stays exact during the transition: moved rows are
    // served offline, the tail realtime; nothing dropped or double-counted
    val realtime = s.read.parquet(s"$dir/realtime")
    val hybrid = graft.operators.HybridTable.view(
      offline, realtime, "ts", lit(boundary))
    assert(hybrid.count() == 4)
    val bySum = hybrid.groupBy(col("k")).agg(sum(col("v")).as("sv"))
      .orderBy(col("k")).collect()
    assert(bySum.map(_.getDouble(1)).toSeq == Seq(5.0, 10.0))

    // 4. with a rollup folded into the move, the offline side holds the
    // coarser grain (MergeRollup during conversion — reference task config)
    graft.sources.Ingest.realtimeToOffline(s, s"$dir/realtime",
      s"$dir/offline_rolled", "ts", boundary,
      rollup = Some(df => graft.sources.Ingest.mergeRollup(
        df, "ts", 3600, Seq("k"), Seq(sum(col("v")).as("v")))))
    val rolled = s.read.parquet(s"$dir/offline_rolled")
    assert(rolled.count() == 2 &&
      rolled.agg(sum(col("v"))).head().getDouble(0) == 3.0)
  }

  test("streaming dedup drops exact-PK repeats within watermark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "id", "v")
    val out = Streams.dedup(df, "ts", Seq("id"))
    val q = out.writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 00:00:01"), 1L, "first"),
      (ts("2024-01-01 00:00:02"), 1L, "dup"),
      (ts("2024-01-01 00:00:03"), 2L, "other"))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT id, v FROM dedup_t").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("streaming near-dup dedup: micro-batches share the persisted band " +
      "index; cross-batch near-dups drop, state survives query restart") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Dedup
    Dedup.dropIndex(s, "tstream")
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(data: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val df = mem.toDF().toDF("doc_id", "text")
      val q = Streams.nearDedupSink(df, "text", "doc_id", "tstream",
        minAgree = 0.75) { out =>
        survivors ++= out.select("doc_id").collect().map(_.getLong(0))
      }.start()
      mem.addData(data: _*)
      q.processAllAvailable()
      q.stop()
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    run(Seq(1L -> base,
      2L -> "totally different words about completely other topics here"))
    // second QUERY (restart): the index is the state, not the stream
    run(Seq(
      // near-dup of doc 1 from the previous query — must drop
      10L -> "beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "entirely novel content that matches nothing else at all"))
    assert(survivors.toSet == Set(1L, 2L, 11L), s"got $survivors")
    Dedup.dropIndex(s, "tstream")
  }

  test("streaming bloom dedup sink: cross-batch suppression, replayed " +
      "batch yields identical survivors without advancing state, " +
      "out-of-order replay refused") {
    val s = spark
    import s.implicits._
    val state = new Streams.BloomDedupState("text", 1 << 16, 3)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val b0 = Seq(1L -> "aa", 2L -> "bb").toDF("doc_id", "text")
    assert(ids(state.process(b0, 0)) == Seq(1L, 2L))
    val b1 = Seq(3L -> "aa", 4L -> "cc").toDF("doc_id", "text")
    assert(ids(state.process(b1, 1)) == Seq(4L), "cross-batch dup kept")
    // at-least-once retry of batch 1: probes the PRE-batch bitmap (4's
    // own survival must not suppress it) and leaves the bits unchanged
    assert(ids(state.process(b1, 1)) == Seq(4L), "replay diverged")
    val b2 = Seq(5L -> "cc", 6L -> "ee", 7L -> "ee", 8L -> "dd")
      .toDF("doc_id", "text")
    // 5 dropped by batch 1's survivor; 6/7 are an in-batch dup of a NEW
    // key and BOTH pass (documented: state only advances between batches)
    assert(ids(state.process(b2, 2)) == Seq(6L, 7L, 8L))
    // one broadcast per bitmap VERSION (3 advancements), not per batch —
    // the batch-1 replay above probed the executor-resident copy
    assert(state.broadcasts == 3,
      s"expected 3 bitmap broadcasts (one per advancement), " +
        s"got ${state.broadcasts}")
    intercept[IllegalStateException](state.process(b0, 0))
    // end-to-end through the writer: same protocol, MemoryStream batches
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.bloomDedupSink(mem.toDF().toDF("doc_id", "text"),
      "text", 1 << 16, 3) { out => got ++= ids(out) }.start()
    Seq(Seq(1L -> "aa", 2L -> "bb"), Seq(3L -> "aa", 4L -> "cc"))
      .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(got.sorted == Seq(1L, 2L, 4L))
  }

  test("streaming paragraph dedup sink: within-batch first occurrence, " +
      "cross-batch bloom suppression, empty-text rows for fully-deduped " +
      "docs, replay yields identical rebuilds") {
    val s = spark
    import s.implicits._
    val state = new Streams.BloomDedupState("para", 1 << 16, 3)
    def run(batch: Seq[(Long, String)], id: Long): Map[Long, String] =
      Streams.paragraphDedupBatch(state, batch.toDF("doc_id", "text"),
          id, "text", "doc_id", "\n")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b0 = run(Seq(
      1L -> "banner\ncontent one\nbanner", // in-batch + in-doc dup
      2L -> "banner\ncontent two"), 0)
    assert(b0 == Map(1L -> "banner\ncontent one", 2L -> "content two"))
    val b1 = run(Seq(
      3L -> "banner\ncontent three", // "banner" seen in batch 0
      4L -> "content two"), 1) // whole doc seen → empty text, row kept
    assert(b1 == Map(3L -> "content three", 4L -> ""))
    // at-least-once retry of batch 1: byte-identical rebuilds
    assert(run(Seq(3L -> "banner\ncontent three", 4L -> "content two"),
      1) == b1)
    // end-to-end through the writer
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, String]
    val q = Streams.paragraphDedupSink(mem.toDF().toDF("doc_id", "text"),
      "text", "doc_id", 1 << 16, 3) { out =>
      out.collect().foreach(r => got(r.getLong(0)) = r.getString(1))
    }.start()
    Seq(Seq(10L -> "x\ny"), Seq(11L -> "y\nz"))
      .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(got.toMap == Map(10L -> "x\ny", 11L -> "z"))
  }

  test("streaming WARC source: archives dropped into the directory " +
      "surface as parsed records in subsequent micro-batches, gzip and " +
      "plain alike; nothing reprocesses") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.sources.Warc
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warc-stream").toString
    val date = "2026-01-01T00:00:00Z"
    def archive(path: String, ids: Seq[Int], gzip: Boolean): Unit =
      Warc.writeFile(ids.iterator.map(i =>
        Warc.responseRecord(s"https://x.io/$i", s"urn:uuid:r-$i", date,
          s"<html>doc $i</html>".getBytes(UTF_8))), path, gzip)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = Streams.warcSource(spark, dir)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.collect().foreach(r => seen += ((id, r.getString(1))))
      }.start()
    archive(s"$dir/a0.warc", Seq(0, 1), gzip = false)
    q.processAllAvailable()
    archive(s"$dir/a1.warc.gz", Seq(2, 3, 4), gzip = true)
    q.processAllAvailable()
    q.processAllAvailable() // no new files → no new rows
    q.stop()
    val byBatch = seen.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    assert(seen.map(_._2).sorted ==
      (0 to 4).map(i => s"urn:uuid:r-$i").sorted)
    // the two drops landed in different micro-batches, no overlap
    assert(byBatch.values.toSeq.map(_.size).sorted == Seq(2, 3))
  }

  test("continuous-crawl capstone: warcSource → payloadText → htmlText " +
      "→ paragraphDedupSink — archives landing across micro-batches, " +
      "boilerplate deduped across them") {
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.sql.functions._
    import graft.sources.Warc
    val dir = java.nio.file.Files
      .createTempDirectory("graft-crawl").toString
    val date = "2026-01-01T00:00:00Z"
    def page(i: Int, body: String) =
      Warc.responseRecord(s"https://x.io/$i", s"urn:uuid:p-$i", date,
        s"<html><body><p>nav bar</p><p>$body</p></body></html>"
          .getBytes(UTF_8))
    val got = scala.collection.mutable.Map.empty[Long, String]
    val stream = graft.streaming.Streams.warcSource(spark, dir)
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long")
          .as("doc_id"),
        graft.functions.Html.htmlText(
          Warc.payloadText(col("payload"), col("http_content_type")))
          .as("text"))
    val q = graft.streaming.Streams.paragraphDedupSink(stream, "text",
      "doc_id") { out =>
      out.collect().foreach(r => got(r.getLong(0)) = r.getString(1))
    }.start()
    Warc.writeFile(Iterator(page(1, "alpha beta"), page(2, "gamma")),
      s"$dir/a0.warc", gzip = false)
    q.processAllAvailable()
    Warc.writeFile(Iterator(page(3, "alpha beta"), page(4, "delta")),
      s"$dir/a1.warc.gz", gzip = true)
    q.processAllAvailable()
    q.stop()
    // "nav bar" boilerplate survives only on the first page of batch 0;
    // page 3's body duplicates page 1's ACROSS batches and drops
    assert(got.toMap == Map(1L -> "nav bar\nalpha beta", 2L -> "gamma",
      3L -> "", 4L -> "delta"))
  }

  test("paragraph sink with everything in ONE batch ≡ batch " +
      "paragraphDedup (empty bitmap → pure within-batch rule)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val last = greatest(((size(toks) - 1) / 4).cast("int"), lit(0))
    val lines = transform(sequence(lit(0), last),
      i => array_join(slice(toks, i * 4 + 1, lit(4)), " "))
    val docs = Tables.documents(s, sfDir)
      .select(col("doc_id"), array_join(lines, "\n").as("text"))
    val state = new Streams.BloomDedupState("para", 1 << 20, 3)
    val streamed = Streams.paragraphDedupBatch(state, docs, 0L,
        "text", "doc_id", "\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.operators.Dedup.paragraphDedup(docs,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch)
  }

  test("streaming exact dedup sink: N micro-batches produce byte-identical " +
      "survivors to the N-batch batch protocol on the same data") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Dedup
    val batches = Seq(
      Seq(1L -> "aa", 2L -> "bb", 3L -> "aa"), // in-batch dup (3 drops)
      Seq(4L -> "bb", 5L -> "cc"),             // cross-batch dup (4 drops)
      Seq(6L -> "cc", 7L -> "aa", 8L -> "dd")) // both (6, 7 drop)
    // batch protocol
    Dedup.dropIndex(s, "tpar_b")
    val batchSurvivors = batches.zipWithIndex.flatMap { case (b, i) =>
      Dedup.incrementalExact(s, b.toDF("doc_id", "text"), "text", "doc_id",
          "tpar_b", batchTag = Some(s"b$i"))
        .select("doc_id").collect().map(_.getLong(0))
    }
    Dedup.dropIndex(s, "tpar_b")
    // streaming protocol: one query, the sink sees each addData as one
    // micro-batch
    Dedup.dropIndex(s, "tpar_s")
    val streamSurvivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = Streams.exactDedupSink(mem.toDF().toDF("doc_id", "text"),
      "text", "doc_id", "tpar_s") { out =>
      streamSurvivors ++= out.select("doc_id").collect().map(_.getLong(0))
    }.start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    Dedup.dropIndex(s, "tpar_s")
    assert(streamSurvivors.sorted == batchSurvivors.sorted,
      s"stream $streamSurvivors vs batch $batchSurvivors")
    assert(batchSurvivors.toSet == Set(1L, 2L, 5L, 8L))
  }

  test("streaming conditional-revisit sink: 304s advance the validator " +
      "ledger bodylessly, unchanged 200s drop at the hash gate, only " +
      "changed rows reach the handler; seqBase orders across channels") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Frontier
    Frontier.dropChangeLedger(s, "csink")
    // round 1 through the BATCH channel at seq 1: seed hashes+validators
    Frontier.changedOnlyConditional(s,
      Seq(("u1", "a", 200, "e1", null),
          ("u2", "b", 200, null, "lm1"),
          ("u3", "c", 200, null, null))
        .toDF("url", "content", "status", "etag", "last_modified"),
      "url", "content", "status", "etag", "last_modified", "csink",
      1L, "seed")
    // stream batches ride ABOVE the batch seq via seqBase
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val mem = MemoryStream[(String, String, Int, String, String)]
    val q = Streams.conditionalRevisitSink(
      mem.toDF().toDF("url", "content", "status", "etag", "last_modified"),
      "url", "content", "status", "etag", "last_modified", "csink",
      seqBase = 10L) { out =>
      got ++= out.select("url").collect().map(_.getString(0))
    }.start()
    // batch A: u1 304 (etag rotates), u3 changed body
    mem.addData(("u1", null, 304, "e2", null), ("u3", "c9", 200, null, null))
    q.processAllAvailable()
    // batch B: u2 unchanged 200 (server ignored the validator) → drops
    mem.addData(("u2", "b", 200, null, null))
    q.processAllAvailable()
    q.stop()
    assert(got.toSeq == Seq("u3")) // the only changed row
    val rec = Frontier.latestReceipts(s, "csink").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rec("u1") == ("e2", null)) // rotated by the 304
    assert(rec("u2") == (null, "lm1")) // kept: unchanged-200 appends nothing
    assert(rec("u3") == (null, null)) // changed body shipped no validators
    Frontier.dropChangeLedger(s, "csink")
  }

  test("incremental dedup replay with the same batch tag is idempotent: " +
      "identical survivors, index does not grow (at-least-once retry)") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    Dedup.dropIndex(s, "tretry")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b1 = Seq(1L -> base).toDF("doc_id", "text")
    val b2 = Seq(
      // near-dup of 1 (first word stripped) — drops on the index probe
      10L -> base.stripPrefix("alpha "),
      11L -> "wholly unrelated text about other things").toDF("doc_id", "text")
    Dedup.incrementalMinHash(s, b1, "text", "doc_id", "tretry",
      minAgree = 0.75, batchTag = Some("t_0"))
    def attempt(): Seq[Long] =
      Dedup.incrementalMinHash(s, b2, "text", "doc_id", "tretry",
          minAgree = 0.75, batchTag = Some("t_1"))
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val first = attempt()
    val rowsAfterFirst = Dedup.loadIndex(s, "tretry").count()
    // the retry must not probe against its own survivors (would drop 11)
    // and must not re-append them
    val second = attempt()
    val rowsAfterSecond = Dedup.loadIndex(s, "tretry").count()
    assert(first == Seq(11L) && second == first)
    assert(rowsAfterSecond == rowsAfterFirst,
      s"index grew on replay: $rowsAfterFirst -> $rowsAfterSecond")
    Dedup.dropIndex(s, "tretry")
  }

  test("kafka source forwards offsets/rate/consumer options to the reader") {
    // format("kafka") resolves through Spark's real source-resolution
    // machinery to the registered test provider (FakeKafkaProvider,
    // META-INF/services) — the captured map IS what a real connector
    // would receive; only the live consume loop needs a broker.
    graft.testkit.FakeKafkaProvider.lastOptions = Map.empty
    val df = Streams.kafkaSource(spark, "broker1:9092,broker2:9092", "events",
      startingOffsets = """{"events":{"0":42}}""",
      maxOffsetsPerTrigger = Some(50000L),
      kafkaOptions = Map(
        "failOnDataLoss" -> "false",
        "minPartitions" -> "64",
        "kafka.isolation.level" -> "read_committed"))
    // load() resolved the schema via the provider — options captured
    // (normalize keys: Spark may hand a CaseInsensitiveMap or plain map)
    val got = graft.testkit.FakeKafkaProvider.lastOptions
      .map { case (k, v) => k.toLowerCase -> v }
    assert(got("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(got("subscribe") == "events")
    assert(got("startingoffsets") == """{"events":{"0":42}}""")
    assert(got("maxoffsetspertrigger") == "50000")
    assert(got("failondataloss") == "false")
    assert(got("minpartitions") == "64")
    assert(got("kafka.isolation.level") == "read_committed")
    // the contract schema is the connector's public row shape
    assert(df.schema.fieldNames.toSeq == Seq("key", "value", "topic",
      "partition", "offset", "timestamp", "timestampType"))
  }

  test("streaming text-index sink: micro-batches append tag-idempotently; " +
      "probes and the lazy dictionary see all batches; restart-safe") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.sources.TextIndexLifecycle
    import graft.operators.TextMatch
    val root = s"/tmp/graft_stream_textidx_${System.nanoTime()}"
    var seen = 0L
    def run(tag: String, data: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val df = mem.toDF().toDF("doc_id", "text")
      val q = Streams.textIndexSink(df, "text", "doc_id", root,
        streamTag = Some(tag))(out => seen += out.count()).start()
      mem.addData(data: _*)
      q.processAllAvailable()
      q.stop()
    }
    run("t1", Seq(1L -> "alpha beta", 2L -> "beta gamma"))
    // second QUERY (restart, new tag scope = new data)
    run("t2", Seq(9L -> "zeta alpha"))
    assert(seen == 3)
    val idx = TextIndexLifecycle.load(s, root, "text", "doc_id")
    val universe = Seq(1L, 2L, 9L).toDF("doc_id")
    assert(TextMatch.compile(idx, universe, "doc_id",
      TextMatch.parse("alpha")).collect().map(_.getLong(0)).toSet ==
      Set(1L, 9L))
    // the lazy dictionary folds BOTH stream batches at loadVocab
    val vocab = TextIndexLifecycle.loadVocab(s, root, "text")
    assert(vocab.get.collect().map(_.getString(0)).toSet ==
      Set("alpha", "beta", "gamma", "zeta"))
    // replayed micro-batch (same streamTag + batchId) no-ops on its
    // marker: postings stay single-copy
    run("t2", Seq(9L -> "zeta alpha"))
    assert(idx.filter(col("token") === "zeta").count() == 1)
    TextIndexLifecycle.deleteRoot(root)
  }

  test("streaming json-index sink: per-batch path-partitioned appends, " +
      "shared with the batch lifecycle, replay-idempotent") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.sources.JsonIndexLifecycle
    val root = s"/tmp/graft_stream_jsonidx_${System.nanoTime()}"
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("pri string")
    def run(tag: String, data: Seq[(Long, String)]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val df = mem.toDF().toDF("id", "doc")
      val q = Streams.jsonIndexSink(df, "doc", "id", schema, root,
        streamTag = Some(tag))(_ => ()).start()
      mem.addData(data: _*)
      q.processAllAvailable()
      q.stop()
    }
    run("j1", Seq(1L -> """{"pri":"HIGH"}""", 2L -> """{"pri":"LOW"}"""))
    run("j2", Seq(3L -> """{"pri":"HIGH"}"""))
    // batch-lifecycle writer shares the same root (hybrid story)
    JsonIndexLifecycle.append(s, root, "doc", "id", schema,
      Seq(4L -> """{"pri":"MID"}""").toDF("id", "doc"), "offline_b1")
    val live = JsonIndexLifecycle.load(s, root, "doc", "id")
    assert(live.filter(col("path") === "$.pri" && col("value") === "HIGH")
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(live.filter(col("value") === "MID").count() == 1)
    // replay of a stream batch no-ops
    run("j2", Seq(3L -> """{"pri":"HIGH"}"""))
    assert(live.filter(col("value") === "HIGH").count() == 2)
    JsonIndexLifecycle.deleteRoot(root)
  }

  test("streaming vector-index sink: arrivals assign into the trained " +
      "IVF structure, probes see them immediately, replays no-op") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(s, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("ivfsink").toString
    // offline: train + persist (the realtime tier never retrains)
    Similarity.persistIvfIndex(
      Similarity.ivfIndex(emb.filter(col("vec_id") < 400), "vec_id",
        "embedding", 8, None), dir)
    val streamed = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    def run(tag: String, data: Seq[(Long, Array[Float])]): Unit = {
      val mem = MemoryStream[(Long, Array[Float])]
      val df = mem.toDF().toDF("vec_id", "embedding")
      val q = Streams.vectorIndexSink(df, "embedding", "vec_id", dir,
        streamTag = Some(tag))(_ => ()).start()
      mem.addData(data: _*)
      q.processAllAvailable()
      q.stop()
    }
    run("v1", streamed.take(10))
    run("v2", streamed.drop(10)) // restart: the index is the state
    val loaded = Similarity.loadIvfIndex(s, dir)
    val ids = loaded.assigned.select("cand_id").collect()
      .map(_.getLong(0)).toSet
    assert(streamed.map(_._1).toSet.subsetOf(ids))
    // a streamed vector's exact twin ranks itself first under full probe
    val probe = emb.filter(col("vec_id") === 410)
    val top = Similarity.ivfTopKWith(loaded, probe, "vec_id",
      "embedding", 3, 8).collect()
    assert(top.nonEmpty, "probe must reach streamed rows")
    // replayed micro-batch no-ops on its marker: single-copy rows
    run("v2", streamed.drop(10))
    assert(Similarity.loadIvfIndex(s, dir).assigned
      .filter(col("cand_id") === streamed.last._1).count() == 1)
  }

  test("streaming tool-triage sink: per-batch verdict cards equal the " +
      "batch operator; stateless across batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Chats
    def m(role: String, content: String, extra: String = "") =
      s"""{"role":"$role","content":"$content"$extra}"""
    val argsOk = """{\"q\":\"x\"}"""
    val valid = s"""{"messages":[${m("user", "u")},${m("assistant",
      "a")}]}"""
    val unanswered = s"""{"messages":[${m("user", "u")},${m(
      "assistant", "a",
      s""","tool_calls":[{"id":"c1","name":"f","arguments":"$argsOk"}]""")},${
      m("assistant", "done")}]}"""
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> valid, 2L -> valid),
      Seq(3L -> valid, 4L -> unanswered, 5L -> unanswered))
    val out = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.toolTriageSink(
      mem.toDF().toDF("id", "chat"), "chat", "id") { card =>
        out ++= card.collect() }.start()
    batches.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val got = out.map(r => (r.getAs[Long]("batch_id"),
      r.getAs[String]("verdict"), r.getAs[Long]("n_convs"))).sorted
    assert(got.toSeq == Seq((0L, "valid", 2L), (1L, "unanswered", 2L),
      (1L, "valid", 1L)))
    // per-batch card ≡ the batch operator over that batch alone
    batches.zipWithIndex.foreach { case (c, i) =>
      val want = Chats.toolTriageCard(Chats.toolTurns(
          c.toDF("id", "chat"), "chat", "id"), "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val gotB = out.filter(_.getAs[Long]("batch_id") == i)
        .map(r => (r.getAs[String]("verdict"), r.getAs[Long]("n_convs")))
        .toMap
      assert(gotB == want, s"batch $i")
    }
  }

  test("streaming drift sink: the raw-text and precomputed-counts " +
      "entry points report identically, and both match the batch " +
      "operator per micro-batch (ADVICE r17 — the reference text is " +
      "tokenized once, not per batch)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Curation
    val ref = (1L to 50L).map(i => (i, s"alpha beta w${i % 9} gamma"))
      .toDF("doc_id", "text")
    val batches: Seq[Seq[(Long, String)]] = Seq(
      (1L to 20L).map(i => (i, s"alpha w${i % 3} delta")),
      (21L to 35L).map(i => (i, s"NOVEL beta w${i % 5}")))
    def run(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row],
            sink: scala.collection.mutable.ArrayBuffer[
              org.apache.spark.sql.Row]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = mk(mem.toDF().toDF("doc_id", "text")).start()
      batches.foreach { c =>
        mem.addData(c: _*)
        q.processAllAvailable()
      }
      q.stop()
    }
    val viaText = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]()
    run(df => Streams.driftSink(df, "text", ref, "text") { rep =>
      viaText ++= rep.collect() }, viaText)
    val refCounts = Curation.unigramCounts(ref, "text")
    val viaCounts = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]()
    run(df => Streams.driftSinkCounts(df, "text", refCounts) { rep =>
      viaCounts ++= rep.collect() }, viaCounts)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("batch_id"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Long]("v_union"),
        r.getAs[Long]("kl_u"), r.getAs[Double]("kl"))
    assert(viaText.map(key).sortBy(_._1) ==
      viaCounts.map(key).sortBy(_._1))
    // each batch's report equals the batch operator run offline
    batches.zipWithIndex.foreach { case (c, i) =>
      val want = Curation.unigramDrift(c.toDF("doc_id", "text"), ref,
        "text").collect()(0)
      val got = viaText.sortBy(_.getAs[Long]("batch_id")).apply(i)
      assert(got.getAs[Long]("kl_u") == want.getAs[Long]("kl_u") &&
        got.getAs[Double]("kl") == want.getAs[Double]("kl"), s"batch $i")
    }
  }

  test("streaming contract-drift sink: per-batch severity cards — a " +
      "dropped key reads disappeared, a value-type change reads " +
      "type_flip — and each card equals the batch operator against " +
      "the once-inferred reference") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.operators.Chats
    val argsQ = """{\"q\":\"x\"}"""
    val argsQP = """{\"q\":\"x\",\"page\":3}"""
    val argsQPs = """{\"q\":\"x\",\"page\":\"three\"}"""
    def chat(id: String, args: String) =
      s"""{"messages":[{"role":"user","content":"u"},""" +
        s"""{"role":"assistant","content":"a","tool_calls":[""" +
        s"""{"id":"$id","name":"search","arguments":"$args"}]},""" +
        s"""{"role":"tool","content":"r","tool_call_id":"$id"},""" +
        s"""{"role":"assistant","content":"d"}]}"""
    // reference contracts: q presence 1.0 required; page 1/3 number
    val ref = Seq(1L -> chat("c1", argsQ), 2L -> chat("c2", argsQP),
      3L -> chat("c3", argsQ)).toDF("id", "chat")
    val batches: Seq[Seq[(Long, String)]] = Seq(
      // batch 0: page vanishes → disappeared (not ref-required → warn)
      Seq(10L -> chat("d1", argsQ), 11L -> chat("d2", argsQ)),
      // batch 1: page everywhere but STRING → type_flip (warn)
      Seq(12L -> chat("d3", argsQPs), 13L -> chat("d4", argsQPs)))
    val out = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row]()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.contractDriftSink(
      mem.toDF().toDF("id", "chat"), "chat", "id",
      ref, "chat", "id") { card => out ++= card.collect() }.start()
    batches.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val got = out.map(r => (r.getAs[Long]("batch_id"),
      r.getAs[String]("tool_name"), r.getAs[Long]("n_disappeared"),
      r.getAs[Long]("n_type_flips"),
      r.getAs[Double]("max_abs_presence_delta"),
      r.getAs[String]("severity"))).sorted
    assert(got.toSeq == Seq(
      (0L, "search", 1L, 0L, 0.0, "warn"),
      (1L, "search", 0L, 1L, 0.666667, "warn")))
    // per-batch card ≡ the batch operator against the same reference
    val refInf = Chats.toolContractInfer(
      Chats.toolTurns(ref, "chat", "id"), "id")
    batches.zipWithIndex.foreach { case (c, i) =>
      val want = Chats.contractDriftCard(Chats.contractDrift(refInf,
          Chats.toolContractInfer(Chats.toolTurns(
            c.toDF("id", "chat"), "chat", "id"), "id")))
        .collect().map(r => (r.getString(0),
          r.getAs[Long]("n_disappeared"),
          r.getAs[Long]("n_type_flips"),
          r.getAs[String]("severity"))).toSet
      val gotB = out.filter(_.getAs[Long]("batch_id") == i)
        .map(r => (r.getAs[String]("tool_name"),
          r.getAs[Long]("n_disappeared"),
          r.getAs[Long]("n_type_flips"),
          r.getAs[String]("severity"))).toSet
      assert(gotB == want, s"batch $i")
    }
  }
}
