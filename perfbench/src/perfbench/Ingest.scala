package perfbench

import graft.streaming.Streams
import graft.streaming.Streams.DeletableEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** realtime_ingest: the generated events replay in event-time order as
  * fixed-size micro-batches from a MemoryStream through one
  * `Streams.upsertLatestWithDeletes` query (memory sink, update mode).
  * One op = addData, processAllAvailable, then a point lookup of a key the
  * batch wrote; the lookup must equal the generator's own latest-per-key
  * map with tombstones hidden. The stream continues past the table's 100k
  * rows with the same key space and later event times. */
final class Ingest(seed: Long, work: String) extends Workload {
  import Ingest._

  private var spark: SparkSession = _
  private var mem: MemoryStream[DeletableEvent] = _
  private var query: StreamingQuery = _
  private var rep = 0
  private var next = 0L // next event row
  private val latest = mutable.HashMap.empty[(Long, String), DeletableEvent]
  private val rng = new scala.util.Random(seed)
  private val warmRng = new scala.util.Random(~seed)

  def prepareInputs(s: SparkSession): Unit = ()

  def setUp(s: SparkSession, layers: Layers): Unit = {
    spark = s
    rep += 1
    next = 0L
    latest.clear()
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    mem = MemoryStream[DeletableEvent]
    // the stream thread inherits local properties at start: start it untagged
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    query = Streams.upsertLatestWithDeletes(mem.toDS())
      .writeStream.format("memory").queryName(Sink).outputMode("update")
      .option("checkpointLocation", s"$work/stream-ckpt-$rep")
      .start()
  }

  def warmUp(): Unit = (0 until WarmOps).foreach(_ => step(None, warmRng))

  def op(i: Long, ctx: OpCtx): Boolean = step(Some(ctx), rng)

  private def event(i: Long): DeletableEvent = DeletableEvent(Gen.evUser(seed, i),
    Gen.evType(seed, i), Gen.evTs(seed, i), Gen.evValue(seed, i), Gen.evDeleted(seed, i))

  private def step(ctx: Option[OpCtx], rng: scala.util.Random): Boolean = {
    val batch = (next until next + BatchSize).map(event)
    next += BatchSize
    batch.foreach(e => latest((e.userId, e.eventType)) = e)
    val probe = batch(rng.nextInt(batch.size))
    val want = latest((probe.userId, probe.eventType))
    val expected = if (want.deleted) None else Some((want.ts, want.value))
    ctx.foreach(_.descriptor = s"events ${next - BatchSize}+$BatchSize " +
      s"${Gen.digest(batch.iterator.map(_.toString))} probe ${probe.userId} ${probe.eventType}")
    def lookup(): Option[(Long, Double)] =
      spark.table(Sink)
        .filter(col("userId") === probe.userId && col("eventType") === probe.eventType)
        .orderBy(col("ts").desc).limit(1).collect().headOption
        .filter(r => !r.getAs[Boolean]("tombstoned"))
        .map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
    val lastBatch = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val got = ctx match {
      case Some(c) =>
        c.timed {
          c.span("streaming.add_data")(mem.addData(batch))
          c.span("streaming.trigger")(query.processAllAvailable())
          c.span("streaming.lookup")(lookup())
        }
      case None =>
        mem.addData(batch); query.processAllAvailable(); lookup()
    }
    ctx.filter(_.tracer.isDefined).foreach(c => recordProgress(c, lastBatch))
    val ok = got == expected
    if (!ok) System.err.println(
      s"[perfbench] ingest lookup mismatch for key (${probe.userId}, ${probe.eventType}): want $expected got $got")
    ok
  }

  /** Per-trigger progress of the micro-batches this op ran. The progress
    * is posted after the batch commits, so wait for it briefly. */
  private def recordProgress(c: OpCtx, lastBatch: Long): Unit = {
    val deadline = System.currentTimeMillis() + 2000
    def fresh = query.recentProgress.filter(_.batchId > lastBatch)
    while (fresh.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
    val ps = fresh
    def d(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    c.layers.add("streaming.add_batch_ms", d("addBatch"))
    c.layers.add("streaming.query_planning_ms", d("queryPlanning"))
    c.layers.add("streaming.wal_commit_ms", d("walCommit") + d("commitOffsets"))
    c.layers.add("streaming.state_commit_ms",
      ps.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum)
    ps.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      c.layers.add("streaming.state_rows", s.numRowsTotal.toDouble)
      c.layers.add("streaming.state_mem_bytes", s.memoryUsedBytes.toDouble)
    }
  }

  override def tearDown(): Unit = if (query != null) { query.stop(); query = null }
}

object Ingest {
  val BatchSize = 1000
  val WarmOps = 12
  val Sink = "upsert_latest"
}
