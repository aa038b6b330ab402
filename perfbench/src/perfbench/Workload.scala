package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark workload: a closed loop of ops of one kind, one client. */
trait Workload {
  /** Ops per round; a run stops only at a round boundary, so every kind in
    * a round keeps an equal quota. */
  def roundSize: Int = 1
  /** Write the generated inputs the program will read, as parquet tables
    * under `<work>/data` (not timed). */
  def prepareInputs(spark: SparkSession): Unit
  /** Table registration, index builds, stream start, expected results. */
  def setUp(spark: SparkSession, layers: Layers): Unit
  def warmUp(): Unit
  /** Run measured op `i`; the timed part goes through `ctx.timed`. Returns
    * whether the op's output checked out. */
  def op(i: Long, ctx: OpCtx): Boolean
  /** Stop what `setUp` started, before the next set-up or at the end. */
  def tearDown(): Unit = ()
}

/** Per-layer values recorded in the traced phase: per-op samples (reported
  * as per-op means) and exact counts (reported as totals). */
final class Layers {
  val perOp: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private val onceVals = mutable.LinkedHashMap.empty[String, Double]
  var enabled = false

  def add(name: String, v: Double): Unit =
    if (enabled) perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def count(name: String, n: Double = 1): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + n
  /** An exact count taken from the first traced op or round only, so it
    * does not depend on how many ops a run completes. */
  def first(name: String, v: Double): Unit =
    if (enabled && !counts.contains(name)) counts(name) = v
  /** A set-up value; the last set-up's reading is kept. */
  def once(name: String, v: Double): Unit = onceVals(name) = v
  def onceValue(name: String): Option[Double] = onceVals.get(name)
}

/** Handle for one op: times its blocking part and, when traced, records
  * the layer spans inside it. `firstTracedRound` marks the ops of the
  * run's first traced round. */
final class OpCtx(val id: Long, val tracer: Option[Tracer], val layers: Layers,
                  val firstTracedRound: Boolean) {
  var wallNs: Long = -1L
  /** What the op was given (query text, batch, sample parameters), set by
    * the workload outside the timed part; the run prints a digest of it. */
  var descriptor: String = ""
  /** The op's kind (the template in olap_serve); `op_p50_ms` is the
    * geometric mean of the per-kind medians. */
  var kind: Int = 0
  /** Time inside spans that run Spark jobs (the op's actions), in ms. */
  var actionMs = 0.0

  def timed[T](body: => T): T = {
    val c0 = tracer.map(_ => Tracer.counters())
    tracer.foreach(_.opBegin(id))
    val t0 = System.nanoTime()
    try body
    finally {
      wallNs = System.nanoTime() - t0
      tracer.foreach { t =>
        t.opEnd(id)
        t.synchronized { t.spans += t.Span(id, "op", "", t0, t0 + wallNs) }
        val d = Tracer.counters().zip(c0.get).map { case (b, a) => b - a }
        Tracer.CounterNames.zip(d).foreach { case (n, v) => layers.add(n, v) }
      }
    }
  }

  /** A child span of the op. Its duration is recorded as the layer metric
    * `<name>_ms`; spans named in [[OpCtx.ActionSpans]] also add to the
    * op's action time. */
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) =>
      val t0 = System.nanoTime()
      val out = t.span(id, name)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (OpCtx.ActionSpans(name)) actionMs += ms
      if (name != "exec.action") layers.add(s"${name}_ms", ms)
      out
    case None => body
  }
}

object OpCtx {
  val ActionSpans: Set[String] = Set("exec.action", "streaming.trigger",
    "streaming.lookup", "operators.pipeline_e2e", "operators.minhash_pairs",
    "operators.bpe_encode")
}
