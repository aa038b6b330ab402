package graft

import graft.operators.{Chats, Checkpoints, Curation, Dedup, Similarity}
import graft.sources.{IncrementalIndex, TextIndexLifecycle}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import java.util.concurrent.{Semaphore, TimeUnit}

/** The contract every sink in [[Streams]] shares through its one
  * micro-batch skeleton: the tags a batch commits under, the one-batch
  * handler delay, and checkpoint lifetimes owned by the sink instance —
  * so two streaming queries in one session never free each other's
  * in-flight frames. */
class SinkContractSpec extends SparkSpec {

  private def sftChat(i: Long) =
    s"""{"messages":[{"role":"system","content":"s$i"},""" +
      s"""{"role":"user","content":"u$i"},""" +
      s"""{"role":"assistant","content":"a$i"}]}"""

  private def toolChat(i: Long) =
    s"""{"messages":[{"role":"user","content":"u$i"},""" +
      s"""{"role":"assistant","content":"a","tool_calls":[""" +
      s"""{"id":"c$i","name":"search","arguments":"{\\"q\\":\\"x\\"}"}]},""" +
      s"""{"role":"tool","content":"r","tool_call_id":"c$i"},""" +
      s"""{"role":"assistant","content":"d"}]}"""

  /** A handler that, while armed, parks each frame until [[release]],
    * then consumes it; unarmed, it consumes at once. */
  private final class Parking(consume: DataFrame => Long) {
    @volatile var armed = false
    private val parked = new Semaphore(0)
    private val go = new Semaphore(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def handler(df: DataFrame): Unit = {
      if (armed) { armed = false; parked.release(); go.acquire() }
      seen.add(consume(df))
    }
    def awaitParked(): Unit =
      assert(parked.tryAcquire(120, TimeUnit.SECONDS), "handler never ran")
    def release(): Unit = go.release()
    def total: Long = seen.stream().mapToLong(_.longValue).sum
  }

  test("two sweeping sinks in one session: a full batch of one does not " +
      "free the frame the other's handler still holds") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val (dedupIdx, corpus) = ("cc_exact", "cc_sft")
    Dedup.dropIndex(s, dedupIdx)
    Chats.dropSftCorpus(s, corpus)
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    val a = new Parking(_.collect().length.toLong)
    val b = new Parking(_.collect().length.toLong)
    val qa = Streams.exactDedupSink(memA.toDF().toDF("doc_id", "text"),
      "text", "doc_id", dedupIdx)(a.handler).start()
    val qb = Streams.sftIngestSink(memB.toDF().toDF("doc_id", "chat"),
      "chat", "doc_id", corpus)(b.handler).start()
    try {
      for (round <- 0 until 2) {
        val ids = Seq(1L, 2L, 3L).map(_ + 10 * round)
        // B's handler holds its checkpointed survivors while A runs a
        // whole batch, then consumes them
        b.armed = true
        memB.addData(ids.map(i => i -> sftChat(i)): _*)
        b.awaitParked()
        memA.addData(ids.map(i => i -> s"text $i"): _*)
        qa.processAllAvailable()
        b.release()
        qb.processAllAvailable()
      }
    } finally { b.release(); qa.stop(); qb.stop() }
    assert(a.total == 6 && b.total == 6, s"${a.seen} ${b.seen}")
    Dedup.dropIndex(s, dedupIdx)
    Chats.dropSftCorpus(s, corpus)
  }

  test("a pass-through sink, a sweeping sink and a batch gate run " +
      "interleaved: each handler parked while the other sink runs a " +
      "whole batch, the gate's checkpoint live across both") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sinkmix").toString
    val dedupIdx = "cc_mix"
    Dedup.dropIndex(s, dedupIdx)
    val memT = MemoryStream[(Long, String)]
    val memE = MemoryStream[(Long, String)]
    val text = new Parking(_.collect().length.toLong)
    val exact = new Parking(_.collect().length.toLong)
    val qt = Streams.textIndexSink(memT.toDF().toDF("doc_id", "text"),
      "text", "doc_id", root)(text.handler).start()
    val qe = Streams.exactDedupSink(memE.toDF().toDF("doc_id", "text"),
      "text", "doc_id", dedupIdx)(exact.handler).start()
    def rows(round: Int) =
      Seq(1L, 2L).map(i => (i + 10 * round) -> s"word$round w${i + round}")
    try {
      for (round <- 0 until 4) {
        val (held, heldMem, heldQ, other, otherMem, otherQ) =
          if (round % 2 == 0) (text, memT, qt, exact, memE, qe)
          else (exact, memE, qe, text, memT, qt)
        held.armed = true
        heldMem.addData(rows(round): _*)
        held.awaitParked()
        // a batch gate's unscoped checkpoint, taken between the batches
        val gate = Checkpoints.eager(rows(round).toDF("doc_id", "text"))
        otherMem.addData(rows(round): _*)
        otherQ.processAllAvailable()
        held.release()
        heldQ.processAllAvailable()
        assert(gate.collect().length == 2)
        Checkpoints.release(gate)
      }
    } finally { text.release(); exact.release(); qt.stop(); qe.stop() }
    assert(text.total == 8 && exact.total == 8,
      s"${text.seen} ${exact.seen}")
    assert(TextIndexLifecycle.load(s, root, "text", "doc_id")
      .select("doc_id").distinct().count() == 8)
    Dedup.dropIndex(s, dedupIdx)
    TextIndexLifecycle.deleteRoot(root)
  }

  test("every tagged sink commits batch N under <tag>_N (the frontier " +
      "under <tag>_d_N and <tag>_f_N): the tags of indexes persisted " +
      "before the shared skeleton") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val run = s"st${System.nanoTime()}"
    val tmp = java.nio.file.Files.createTempDirectory("sinktags").toString
    val ivfDir = s"$tmp/ivf"
    Similarity.persistIvfIndex(Similarity.ivfIndex(
      Seq(1L -> Array(0f, 0f), 2L -> Array(9f, 9f), 3L -> Array(0f, 1f),
        4L -> Array(9f, 8f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 2, None), ivfDir)
    def app(dir: String) = GraftSession.appDir(s, dir)
    def pages(df: DataFrame) = df.select(
      concat(lit("http://h/"), col("id")).as("uri"),
      concat(lit("<a href=\"http://h/x"), col("id"), lit("\">l</a>"))
        .as("html"))
    val tag = Some("t")
    val plain = Set("t_0", "t_1")
    // (sink, root holding its index dirs, index-dir name prefix, tags)
    type Mk = DataFrame => DataStreamWriter[Row]
    val table: Seq[(String, Mk, String, String, Set[String])] = Seq(
      ("nearDedupSink", df => Streams.nearDedupSink(df, "text", "id",
        s"${run}_near", streamTag = tag)(_.count()),
        app("dedup_idx"), s"${run}_near", plain),
      ("exactDedupSink", df => Streams.exactDedupSink(df, "text", "id",
        s"${run}_exact", streamTag = tag)(_.count()),
        app("dedup_idx"), s"${run}_exact", plain),
      ("textIndexSink", df => Streams.textIndexSink(df, "text", "id",
        s"$tmp/text", streamTag = tag)(_.count()),
        s"$tmp/text", "", plain),
      ("linkGraphSink", df => Streams.linkGraphSink(pages(df), "uri",
        "html", s"${run}_link", streamTag = tag)(_.count()),
        app("linkgraph_idx"), s"${run}_link", plain),
      ("frontierSink", df => Streams.frontierSink(pages(df), "uri",
        "html", s"${run}_front", streamTag = tag)(_.count()),
        app("frontier_idx"), s"${run}_front",
        Set("t_d_0", "t_d_1", "t_f_0", "t_f_1")),
      ("conditionalRevisitSink", df => Streams.conditionalRevisitSink(
        df.select(concat(lit("http://h/"), col("id")).as("url"),
          col("text").as("content"), lit(200).as("status"),
          lit(null).cast("string").as("etag"),
          lit(null).cast("string").as("last_modified")),
        "url", "content", "status", "etag", "last_modified",
        s"${run}_rev", streamTag = tag)(_.count()),
        app("frontier_idx"), s"${run}_rev", plain),
      ("jsonIndexSink", df => Streams.jsonIndexSink(
        df.select(col("id"),
          concat(lit("{\"pri\":\""), col("text"), lit("\"}")).as("doc")),
        "doc", "id", org.apache.spark.sql.types.StructType.fromDDL(
          "pri string"), s"$tmp/json", streamTag = tag)(_.count()),
        s"$tmp/json", "", plain),
      ("sftIngestSink", df => Streams.sftIngestSink(
        df.select(col("id"), col("chat")), "chat", "id", s"${run}_sft",
        streamTag = tag)(_.count()),
        app("sft_idx"), s"${run}_sft", plain),
      ("toolIngestSink", df => Streams.toolIngestSink(
        df.select(col("id"), col("tool").as("chat")), "chat", "id",
        s"${run}_tool", streamTag = tag)(_.count()),
        app("sft_idx"), s"${run}_tool", plain),
      ("manifestSink", df => Streams.manifestSink(
        df.withColumn("shard", col("id") % 2), "shard", "id", "text",
        s"${run}_mani", streamTag = tag)(_.count()),
        app("manifest_idx"), s"${run}_mani", plain),
      ("vectorIndexSink", df => Streams.vectorIndexSink(
        df.select(col("id"),
          array(col("id").cast("float"), lit(1f)).as("vec")),
        "vec", "id", ivfDir, streamTag = tag)(_.count()),
        ivfDir, "", plain))
    def dirs(root: String, prefix: String): Seq[java.io.File] =
      Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    val batches = Seq(Seq(1L, 2L), Seq(3L))
    table.foreach { case (sinkName, mk, root, prefix, want) =>
      val mem = MemoryStream[(Long, String, String, String)]
      val q = mk(mem.toDF().toDF("id", "text", "chat", "tool")).start()
      try batches.foreach { ids =>
        mem.addData(ids.map(i => (i, s"alpha w$i", sftChat(i),
          toolChat(i))): _*)
        q.processAllAvailable()
      } finally q.stop()
      val got = dirs(root, prefix).map(_.getName)
        .filter(_.endsWith("_tags"))
        .flatMap(d => IncrementalIndex.tags(IncrementalIndex.Spec(root,
          d.stripSuffix("_tags"), None))).toSet
      assert(got == want, sinkName)
      if (prefix.nonEmpty) dirs(root, prefix)
        .foreach(d => IncrementalIndex.rmTree(d.getPath))
    }
    IncrementalIndex.rmTree(tmp)
  }

  test("a handler that consumes each frame one batch late succeeds on a " +
      "pass-through sink and on a sweeping sink") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("sinklate").toString
    Chats.dropSftCorpus(s, "late_sft")
    def lateRun(mk: DataFrame => (DataFrame => Unit) => DataStreamWriter[Row])
    : Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      var prev: Option[DataFrame] = None
      def consume(df: DataFrame): Unit =
        seen ++= df.select(col(df.columns.head).cast("long")).collect()
          .map(_.getLong(0))
      val mem = MemoryStream[(Long, String)]
      val q = mk(mem.toDF().toDF("doc_id", "chat")) { out =>
        prev.foreach(consume)
        prev = Some(out)
      }.start()
      try (0 until 3).foreach { b =>
        mem.addData(Seq(1L, 2L).map(i => (i + 10 * b) -> sftChat(i)): _*)
        q.processAllAvailable()
      } finally q.stop()
      prev.foreach(consume)
      seen.sorted.toSeq
    }
    val want = Seq(1L, 2L, 11L, 12L, 21L, 22L)
    assert(lateRun(df => Streams.textIndexSink(df, "chat", "doc_id",
      root)) == want)
    assert(lateRun(df => Streams.sftIngestSink(df, "chat", "doc_id",
      "late_sft")) == want)
    Chats.dropSftCorpus(s, "late_sft")
    TextIndexLifecycle.deleteRoot(root)
  }

  test("the drift sinks neither free nor pin a caller's eager reference " +
      "frame") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ref = (1L to 30L).map(i => (i, s"alpha beta w${i % 7}"))
      .toDF("doc_id", "text")
    val refChats = Seq(1L, 2L).map(i => i -> toolChat(i)).toDF("id", "chat")
    val refCounts = Checkpoints.eager(Curation.unigramCounts(ref, "text"))
    val refInf = Checkpoints.eager(Chats.toolContractInfer(
      Chats.toolTurns(refChats, "chat", "id"), "id"))
    val pinned = Checkpoints.pinnedCount
    val cases: Seq[DataFrame => (DataFrame => Unit) =>
        DataStreamWriter[Row]] = Seq(
      df => Streams.driftSinkCounts(df, "text", refCounts),
      df => Streams.contractDriftSinkInferred(df, "chat", "id", refInf))
    cases.foreach { mk =>
      val reports = scala.collection.mutable.ArrayBuffer.empty[Long]
      val mem = MemoryStream[(Long, String, String)]
      val q = mk(mem.toDF().toDF("id", "text", "chat")) { rep =>
        reports ++= rep.select("batch_id").collect().map(_.getLong(0))
      }.start()
      try (0 until 3).foreach { b =>
        mem.addData(Seq(1L, 2L).map(i => (i + 10 * b, s"alpha w$b",
          toolChat(i + 10 * b))): _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(reports.distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    }
    assert(refCounts.count() > 0 && refInf.count() > 0)
    assert(Checkpoints.pinnedCount == pinned)
    Checkpoints.release(refCounts)
    Checkpoints.release(refInf)
  }
}
