package graft

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Measures a named scope of work on one session, layer by layer, in the
  * order *Spark SQL* (SIGMOD 2015) names them: Catalyst phases, then
  * codegen, then execution. [[scope]] returns one [[Profiler.Record]].
  *
  * The profiler owns the program's only SparkListener and
  * QueryExecutionListener. The listener bus is asynchronous, so an event
  * counts toward the scopes open when the bus DELIVERS it, and [[scope]]
  * drains the bus before each move of its cursor (on entry and on exit).
  * Every event of work the body started therefore lands in the body's
  * scope and in no later one — including jobs the streaming micro-batch
  * thread runs while the body waits in `processAllAvailable`. Scopes nest
  * (an event counts toward every open scope) and are opened from one
  * driver thread at a time.
  *
  * Process-wide counters (codegen, [[graft.operators.GraftCache]], GC,
  * host steal) are diffed around the body, so they also count work other
  * threads do meanwhile. */
final class Profiler(spark: SparkSession) {
  import Profiler._

  private final class Acc {
    var jobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, taskGcMs = 0L
    var shuffleWriteBytes, spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    // one QueryExecution's tracker can reach several listener calls (a
    // frame reused by two actions); its phases count once
    val trackers = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean])
    val interpreted = mutable.Set.empty[String]
  }

  private val sc = spark.sparkContext
  // innermost first; replaced (never mutated) under this profiler's lock
  @volatile private var open: List[Acc] = Nil
  private val jobStartMs = mutable.HashMap.empty[Int, Long]

  private def each(f: Acc => Unit): Unit = synchronized(open.foreach(f))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStartMs(e.jobId) = e.time
      open.foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStartMs.remove(e.jobId).foreach(s =>
        open.foreach(_.jobIntervals += ((s, e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      each(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) each { a =>
        a.tasks += 1
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.taskGcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // [[PlanLint]] rides here: every action's executed plan, in-gate
  // protocol steps included, is linted on the bus thread — off the timed
  // path — and its classes land in the open scopes
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (open.nonEmpty) {
        val found =
          try PlanLint.interpreted(qe.executedPlan)
          catch { case _: Throwable => Set.empty[String] }
        each { a => a.trackers.add(qe.tracker); a.interpreted ++= found }
      }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      each(_.trackers.add(qe.tracker))
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)

  /** Runs `body` as scope `name`; an exception from `body` propagates
    * after the scope closes. */
  def scope(name: String)(body: => Any): Record = {
    val acc = new Acc
    ListenerBusAccess.waitUntilEmpty(sc, DrainMs)
    synchronized { open = acc :: open }
    val c0 = counters()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var wallMs = 0.0
    try body
    finally {
      wallMs = (System.nanoTime() - t0) / 1e6
      ListenerBusAccess.waitUntilEmpty(sc, DrainMs)
      synchronized { open = open.filterNot(_ eq acc) }
    }
    val Seq(compiles, codegenNs, hits, misses, evictions, gcMs, steal) =
      counters().zip(c0).map { case (b, a) => b - a }
    synchronized {
      import scala.jdk.CollectionConverters._
      val trackers = acc.trackers.asScala.toSeq
      def phaseMs(phases: String*): Long = trackers.map(t =>
        phases.flatMap(t.phases.get).map(_.durationMs).sum).sum
      val ruleNs = mutable.HashMap.empty[String, Long]
      for (t <- trackers; (r, s) <- t.rules)
        ruleNs(r) = ruleNs.getOrElse(r, 0L) + s.totalTimeNs
      val covered = unionMs(acc.jobIntervals.toSeq.map { case (s, e) =>
        (math.max(s, t0Ms), math.min(e, t0Ms + wallMs.toLong + 1)) })
      Record(name, wallMs,
        jobs = acc.jobs, stages = acc.stages, tasks = acc.tasks,
        taskRunMs = acc.taskRunMs, taskCpuMs = acc.taskCpuNs / 1000000,
        taskGcMs = acc.taskGcMs,
        shuffleWriteBytes = acc.shuffleWriteBytes,
        spillBytes = acc.spillBytes,
        driverMs = math.max(0.0, wallMs - covered),
        parseAnalyzeMs = phaseMs(QueryPlanningTracker.PARSING,
          QueryPlanningTracker.ANALYSIS),
        optimizeMs = phaseMs(QueryPlanningTracker.OPTIMIZATION),
        physicalMs = phaseMs(QueryPlanningTracker.PLANNING),
        topRules = ruleNs.toSeq.sortBy { case (r, ns) => (-ns, r) }.take(3)
          .map { case (r, ns) => r.split('.').last -> ns / 1e6 },
        codegenCompiles = compiles, codegenMs = codegenNs / 1e6,
        cacheHits = hits, cacheMisses = misses, cacheEvictions = evictions,
        gcMs = gcMs, stealMs = math.max(steal, 0L) * 10,
        interpreted = acc.interpreted.toSet)
    }
  }

  /** Detaches both listeners (a session outliving its profiler). */
  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Profiler {

  /** Bus-drain cap per cursor move: returns the moment the bus empties,
    * so it costs nothing on a healthy session; a 100× gate's tail events
    * can take seconds to deliver. */
  private val DrainMs = 15000L

  /** One scope's measurement. Field defaults are zero. */
  final case class Record(
      name: String, wallMs: Double,
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskRunMs: Long = 0, taskCpuMs: Long = 0, taskGcMs: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
      driverMs: Double = 0,
      parseAnalyzeMs: Long = 0, optimizeMs: Long = 0, physicalMs: Long = 0,
      topRules: Seq[(String, Double)] = Nil,
      codegenCompiles: Long = 0, codegenMs: Double = 0,
      cacheHits: Long = 0, cacheMisses: Long = 0, cacheEvictions: Long = 0,
      gcMs: Long = 0, stealMs: Long = 0,
      interpreted: Set[String] = Set.empty) {

    /** Layer → JSON value. A quantity BENCHMARK.json's `per_layer` list
      * names carries that name; `driver_ms` is wall time no job covers.
      * The phase ms sum what the executed QueryExecutions' trackers
      * recorded: a frame built step by step analyzes each step in a
      * tracker no action reports, so that time lands in `driver_ms`.
      * `codegen.compile_ms` is whole-stage code generation time and
      * `codegen.compiles` counts janino compiles (cache misses), as
      * perfbench counts them. */
    def layers: Seq[(String, Any)] = Seq(
      "wall_ms" -> r3(wallMs),
      "sql.parse_analyze_ms" -> parseAnalyzeMs,
      "rules.optimize_ms" -> optimizeMs,
      "plan.physical_ms" -> physicalMs,
      "rules.top" -> Json.obj(topRules.map { case (r, ms) => r -> r3(ms) }),
      "codegen.compiles" -> codegenCompiles,
      "codegen.compile_ms" -> r3(codegenMs),
      "exec.driver_ms" -> r3(driverMs),
      "exec.jobs" -> jobs, "exec.stages" -> stages, "exec.tasks" -> tasks,
      "exec.task_run_ms" -> taskRunMs, "exec.task_cpu_ms" -> taskCpuMs,
      "exec.task_gc_ms" -> taskGcMs,
      "exec.shuffle_write_bytes" -> shuffleWriteBytes,
      "exec.spill_bytes" -> spillBytes,
      "cache.hits" -> cacheHits, "cache.misses" -> cacheMisses,
      "cache.evictions" -> cacheEvictions,
      "host.gc_ms" -> gcMs, "host.steal_ms" -> stealMs,
      "interpreted" -> Json.arr(interpreted.toSeq.sorted.map(Json.str)))

    def json: String = Json.obj(layers)
  }

  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** Total length of the union of `[start, end]` intervals. */
  private[graft] def unionMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var (curS, curE) = (0L, -1L)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += math.max(curE - curS, 0L); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + math.max(curE - curS, 0L)
  }

  /** Process-wide counters: codegen compiles, codegen ns, GraftCache
    * hits, misses, evictions, GC ms, steal ticks. */
  private def counters(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val (h, m, e) = graft.operators.GraftCache.statsSnapshot()
    Seq(org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
      h, m, e,
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum,
      stealTicks())
  }

  // The bench runs in a VM guest: when the HOST is contended, the guest's
  // vCPUs are simply not scheduled and wall-clock inflates with zero
  // in-guest signal. /proc/stat's steal column IS the direct signal:
  // ticks the hypervisor ran someone else while this guest was runnable.

  /** Cumulative steal ticks (USER_HZ=100 → ×10 = ms of one stolen core);
    * 0 where /proc/stat is unreadable (non-Linux dev host). */
  private[graft] def stealTicks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } finally src.close()
  } catch { case _: Throwable => 0L }

  private[graft] def stealMsSince(t0Ticks: Long): Long =
    math.max(stealTicks() - t0Ticks, 0L) * 10L
}
