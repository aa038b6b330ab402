package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory tracer for the traced run.
  *
  * Each op gets a root span and one child span per layer boundary the
  * benchmark crosses (parse/analyze, optimize, physical planning, action,
  * micro-batch, lookup, operator step). Spark jobs are tied to their op
  * through the `perfbench.op` local property; jobs started on threads the
  * benchmark does not own (the streaming micro-batch thread) are tied by
  * the op's time window, which is exact with one client. Counters are kept
  * per op; spans are written out when the run ends. */
final class Tracer(sc: SparkContext) {
  /** `parent` is "op" for a layer span and "" for an op's root span. */
  final case class Span(op: Long, name: String, parent: String,
                        startNs: Long, endNs: Long)
  final class OpStats {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
    var shuffleWriteBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
    val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stats = mutable.HashMap.empty[Long, OpStats]
  // op windows in wall-clock millis, the clock listener events carry
  private val windows = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var openOp: (Long, Long) = (-1L, 0L)
  private val jobOp = mutable.HashMap.empty[Int, (Long, Long)] // job -> (op, start)
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private var pendingJobs = 0

  private def opAt(timeMs: Long): Long = synchronized {
    val (op, start) = openOp
    if (op >= 0 && timeMs >= start) op
    else windows.reverseIterator.find(w => timeMs >= w._2 && timeMs <= w._3)
      .map(_._1).getOrElse(-1L)
  }
  private def st(op: Long): OpStats = stats.getOrElseUpdate(op, new OpStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.OpProperty))).map(_.toLong)
      val op = tagged.getOrElse(opAt(e.time))
      Tracer.this.synchronized {
        pendingJobs += 1
        jobOp(e.jobId) = (op, e.time)
        e.stageIds.foreach(s => stageOp(s) = op)
        if (op >= 0) st(op).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        pendingJobs -= 1
        jobOp.remove(e.jobId).foreach { case (op, start) =>
          if (op >= 0) st(op).jobIntervals += ((start, e.time))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOp.get(e.stageInfo.stageId).filter(_ >= 0)
          .foreach(op => st(op).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stageOp.get(e.stageId).filter(_ >= 0).foreach { op =>
          val s = st(op)
          s.tasks += 1
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.taskGcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def opBegin(op: Long): Unit = {
    synchronized { openOp = (op, System.currentTimeMillis()) }
    sc.setLocalProperty(Tracer.OpProperty, op.toString)
  }
  def opEnd(op: Long): Unit = {
    sc.setLocalProperty(Tracer.OpProperty, null)
    synchronized {
      windows += ((op, openOp._2, System.currentTimeMillis()))
      openOp = (-1L, 0L)
    }
  }

  def span[T](op: Long, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally synchronized { spans += Span(op, name, "op", t0, System.nanoTime()) }
  }

  /** Wait until the listener bus has delivered every job end, then stop
    * listening. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (synchronized(pendingJobs) <= 0) quiet += 1 else quiet = 0
    }
    sc.removeSparkListener(listener)
  }

  /** Per-op job, stage and task counters. */
  def opStats(op: Long): OpStats = synchronized(st(op))

  /** Op wall time not covered by any of its jobs, in ms. */
  def driverMs(op: Long, wallMs: Double): Double = synchronized {
    val iv = st(op).jobIntervals.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallMs - covered)
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"op":${s.op},"name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Process-wide counters diffed around each traced op. */
  val CounterNames: Seq[String] = Seq("codegen.compiles", "codegen.compile_ms",
    "cache.hits", "cache.misses", "cache.evictions")
  def counters(): Seq[Double] = {
    val (hits, misses, evictions) = graft.operators.GraftCache.statsSnapshot()
    Seq(org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime / 1e6,
      hits.toDouble, misses.toDouble, evictions.toDouble)
  }
}
