package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark driver: one workload per JVM, one client, closed loop.
  *
  * {{{
  * perfbench.Main --workload <olap_serve|realtime_ingest|curate_batch>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--cpus <n>]
  *   [--spans <file>]
  * }}}
  *
  * The last stdout line is one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
  * per-layer metrics with `--trace 1`. The lines before it give digests of
  * the inputs and of each op run, then a summary with error rate, p90 and
  * host counters. */
object Main {
  val Workloads: Seq[String] = Seq("olap_serve", "realtime_ingest", "curate_batch")
  /** Set-ups per run, each starting a new SparkContext; `setup_s` is their
    * median plus the one warm-up. */
  val SetUps = 3
  /** Hard cap on one measured phase, whatever the op quota. */
  val MaxPhaseSeconds = 100.0

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms",
    "ops_per_s" -> "1/s", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sql.parse_analyze_ms" -> "ms", "rules.optimize_ms" -> "ms",
    "rules.routed_ops" -> "count", "rules.routable_ops" -> "count",
    "plan.physical_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "exec.action_ms" -> "ms", "exec.driver_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.task_gc_ms" -> "ms",
    "exec.busy_ratio" -> "ratio", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_fetch_wait_ms" -> "ms", "exec.spill_bytes" -> "bytes",
    "operators.pipeline_e2e_ms" -> "ms", "operators.minhash_pairs_ms" -> "ms",
    "operators.bpe_encode_ms" -> "ms", "operators.survivors" -> "count",
    "operators.pairs" -> "count",
    "cache.hits" -> "count", "cache.misses" -> "count",
    "cache.evictions" -> "count", "cache.live_checkpoints" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes", "streaming.lookup_ms" -> "ms",
    "sources.index_open_ms" -> "ms",
    "host.steal_pct" -> "%", "host.gc_ms" -> "ms", "host.cpu_ms_per_op" -> "ms",
    "tracing.overhead_ms" -> "ms")

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, cpus: Int,
                        spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("work", "."),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("spans"))
  }

  def workload(o: Opts): Workload = o.workload match {
    case "olap_serve" => new Olap(o.seed, o.work)
    case "realtime_ingest" => new Ingest(o.seed, o.work)
    case "curate_batch" => new Curate(o.seed, o.work)
  }

  def session(o: Opts): SparkSession = {
    val s = graft.GraftSession.builder(o.cpus)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.graft.checkpoint.dir", s"${o.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Forget every process-wide registry the program keeps per session. */
  def resetProgramState(): Unit = {
    graft.rules.TextIndexCatalog.clear()
    graft.rules.JsonIndexCatalog.clear()
    graft.rules.StarTreeCatalog.clear()
    graft.sources.IndexedTable.reset()
    graft.operators.GraftCache.clearAll()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0 else {
      val pos = (v.size - 1) * q
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  }

  /** Geometric mean of the per-kind median latencies, in ms. With one kind
    * this is the plain median. olap_serve's templates cluster into cheap and
    * expensive ones: the pooled median of such a mix falls in the gap
    * between the clusters, and the median of the ten template medians
    * rests on the two middle templates only; both jumped between runs.
    * The geometric mean weighs every template alike, as TPC-H's power
    * metric does. */
  def p50(cs: Seq[OpCtx]): Double = {
    val meds = cs.groupBy(_.kind).values.map(k => median(k.map(_.wallNs / 1e6))).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

  final case class Phase(attempted: Int, failed: Int, ctxs: Seq[OpCtx],
                         h0: HostSample, h1: HostSample) {
    /** The ops that reached their timed part, untraced and traced. */
    def untraced: Seq[OpCtx] = ctxs.filter(c => c.wallNs >= 0 && c.tracer.isEmpty)
    def traced: Seq[OpCtx] = ctxs.filter(c => c.wallNs >= 0 && c.tracer.isDefined)
  }

  /** The closed loop: run ops until `seconds` have passed, stopping at a
    * round boundary. With a tracer, untraced and traced rounds alternate,
    * starting untraced, and at least one of each runs; the per-layer
    * metrics come from the traced rounds. */
  def measure(w: Workload, seconds: Double, tracer: Option[Tracer],
              layers: Layers): Phase = {
    val ctxs = mutable.ArrayBuffer.empty[OpCtx]
    var failed = 0
    val minOps = if (tracer.isDefined) 2 * w.roundSize else 0
    val h0 = Host.sample()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0L
    while ((elapsed < seconds || n % w.roundSize != 0 || n < minOps) &&
      elapsed < MaxPhaseSeconds) {
      val round = n / w.roundSize
      val traced = tracer.isDefined && round % 2 == 1
      layers.enabled = traced
      val ctx = new OpCtx(n, if (traced) tracer else None, layers, firstTracedRound = traced && round == 1)
      val ok = try w.op(n, ctx) catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] op $n failed: $e")
          false
      }
      if (!ok) failed += 1
      ctxs += ctx
      n += 1
    }
    layers.enabled = false
    Phase(n.toInt, failed, ctxs.toSeq, h0, Host.sample())
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o)
    val layers = new Layers

    // inputs first, in a session of their own (not part of set-up)
    var t = System.nanoTime()
    var spark = session(o)
    w.prepareInputs(spark)
    val inputs = Gen.inputsDigest(spark, s"${o.work}/data")
    val inputsS = (System.nanoTime() - t) / 1e9
    // SetUps full set-ups, each starting a new SparkContext
    val setups = (1 to SetUps).map { _ =>
      w.tearDown(); resetProgramState(); spark.stop()
      // drop the stopped context's heap now: left to later collections it
      // is promoted and spreads over heap pages the run has not touched
      // yet, and rss_peak_mb then varies with GC timing
      System.gc()
      t = System.nanoTime()
      spark = session(o)
      w.setUp(spark, layers)
      (System.nanoTime() - t) / 1e9
    }
    // warm-up runs once, on the last set-up, and counts in setup_s
    t = System.nanoTime()
    w.warmUp()
    val warmUpS = (System.nanoTime() - t) / 1e9

    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val ph = measure(w, o.seconds, tracer, layers)
    tracer.foreach(_.drain())
    val rss = Host.rssPeakMb()
    val liveCheckpoints = graft.operators.Checkpoints.liveIds.size
    val main = ph.untraced
    val lat = main.map(_.wallNs / 1e6)

    val stealPct = Host.stealPct(ph.h0, ph.h1)
    val gcMs = (ph.h1.gcMs - ph.h0.gcMs).toDouble
    val cpuPerOp = (ph.h1.cpuNs - ph.h0.cpuNs) / 1e6 / math.max(1, ph.attempted)

    val summary = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (median(setups) + warmUpS), "warmup_s" -> warmUpS, "op_p50_ms" -> p50(main),
      "ops_per_s" -> lat.size / math.max(1e-9, lat.sum / 1000),
      "rss_peak_mb" -> rss, "error_rate" -> ph.failed.toDouble / math.max(1, ph.attempted),
      "ops" -> lat.size, "inputs_s" -> inputsS,
      "host.steal_pct" -> stealPct, "host.gc_ms" -> gcMs, "host.cpu_ms_per_op" -> cpuPerOp)
    if (lat.size >= 100) summary("op_p90_ms") = quantile(lat, 0.9)
    setups.zipWithIndex.foreach { case (s, i) => summary(s"setup_${i + 1}_s") = s }

    val metrics: Seq[(String, String, Double)] = tracer match {
      case None => EndToEnd.map { case (n, u) => (n, u, summary(n)) }
      case Some(tr) =>
        val b = ph.traced
        layers.enabled = true
        b.foreach { c =>
          val s = tr.opStats(c.id)
          layers.add("exec.action_ms", c.actionMs)
          layers.add("exec.driver_ms", tr.driverMs(c.id, c.wallNs / 1e6))
          layers.add("exec.jobs", s.jobs)
          layers.add("exec.stages", s.stages); layers.add("exec.tasks", s.tasks)
          layers.add("exec.task_run_ms", s.taskRunMs)
          layers.add("exec.task_cpu_ms", s.taskCpuNs / 1e6)
          layers.add("exec.task_gc_ms", s.taskGcMs)
          layers.add("exec.busy_ratio",
            if (c.actionMs > 0) s.taskRunMs / (c.actionMs * cores) else 0.0)
          layers.add("exec.shuffle_write_bytes", s.shuffleWriteBytes)
          layers.add("exec.shuffle_fetch_wait_ms", s.fetchWaitMs)
          layers.add("exec.spill_bytes", s.spillBytes)
        }
        layers.enabled = false
        val extra = Map("cache.live_checkpoints" -> liveCheckpoints.toDouble,
          "host.steal_pct" -> stealPct, "host.gc_ms" -> gcMs,
          "host.cpu_ms_per_op" -> cpuPerOp,
          "tracing.overhead_ms" -> (p50(b) - p50(main)))
        o.spans.foreach(f => tr.write(java.nio.file.Paths.get(f)))
        PerLayer.map { case (n, u) =>
          val v = extra.get(n)
            .orElse(layers.counts.get(n))
            .orElse(layers.perOp.get(n).filter(_.nonEmpty).map(xs => xs.sum / xs.size))
            .orElse(layers.onceValue(n)).getOrElse(0.0)
          (n, u, v)
        }
    }

    System.err.println("perfbench latencies_ms (kind:ms): " +
      main.map(c => "%d:%.1f".format(c.kind, c.wallNs / 1e6)).mkString(" "))
    // what the run was given: a digest of the input tables and one short
    // digest per op of the op's descriptor, in run order
    println(s"perfbench inputs ${o.workload} seed ${o.seed}: $inputs")
    println(s"perfbench ops ${o.workload} seed ${o.seed}: " +
      ph.ctxs.map(c => Gen.digest(Iterator(c.descriptor)).take(12)).mkString(" "))
    println("perfbench summary " + o.workload + " seed " + o.seed + ": " +
      summary.map { case (k, v) => s"$k=${"%.4f".format(v)}" }.mkString(" "))
    val m = metrics.map { case (n, u, v) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${ph.failed == 0}, "attempted": ${ph.attempted}, "failed": ${ph.failed}, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
    System.out.flush()
    w.tearDown()
    spark.stop()
  }
}
