package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench main's pure pieces: host-steal helpers, the stdout tail
  * contract and the per-gate `layers` record's key set. */
class BenchSpec extends AnyFunSuite {

  test("host-steal instrumentation: monotone ticks, bounded quiet wait") {
    // /proc/stat steal is cumulative — two reads never go backwards
    // (0 on hosts without the column, which stealMsSince clamps)
    val a = Profiler.stealTicks()
    val b = Profiler.stealTicks()
    assert(b >= a)
    assert(Profiler.stealMsSince(a) >= 0)
    assert(Profiler.stealMsSince(Long.MaxValue) == 0) // clamped, never negative
    // a quiet host exits after ~one 300ms sample; the budget bounds a
    // noisy one — either way the wait never exceeds maxWaitMs by much
    val waited = Bench.awaitQuietHost(cpus = 32, maxWaitMs = 1200)
    assert(waited >= 0 && waited <= 2500)
  }

  test("driverTailExtract: bare final JSON line survives the 2000-char tail") {
    val json =
      """{"metric":"total","value":254.956,"unit":"sec","n_queries":374,""" +
        """"degradation":1.03,"queries":{"q_agg_tpch_q1":0.661},"sf":"x"}"""
    // the shape the bench now emits: progress on stderr never reaches this
    // stdout capture; the compact line is the last stdout line, bare
    val good = ("[info] running (fork) graft.Bench \n" * 3) + json + "\n"
    assert(Bench.driverTailExtract(good).contains(json))
    // robust to a long stdout: only the tail window is inspected
    assert(Bench.driverTailExtract(("x" * 100000) + "\n" + json + "\n")
      .contains(json))
    // the failure mode of rounds 1-19: sbt wrapped the line as [info] and
    // appended [success] — the tail's last line is then NOT bare JSON
    val old = "[info] " + json + "\n[success] Total time: 1500 s\n"
    assert(Bench.driverTailExtract(old).isEmpty)
    // a line bigger than the tail window is mid-truncated -> no parse;
    // the bench's progressive fallback keeps the real line under budget
    val huge = json.replace("\"sf\":\"x\"", "\"pad\":\"" + "y" * 3000 + "\"")
    assert(Bench.driverTailExtract(huge + "\n").isEmpty)
  }

  test("layers: every quantity BENCHMARK.json names carries that name") {
    import scala.jdk.CollectionConverters._
    val perLayer = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json")).get("per_layer")
      .elements().asScala.map(_.get("name").asText()).toSet
    val keys = Profiler.Record("q_x", 0.0).layers.map(_._1)
    assert(keys.distinct == keys)
    // quantities BENCHMARK.json has no name for (steal in ms, not %)
    assert(keys.filterNot(perLayer).toSet ==
      Set("wall_ms", "rules.top", "host.steal_ms", "interpreted"))
    assert(keys.filter(perLayer).toSet == Set(
      "sql.parse_analyze_ms", "rules.optimize_ms", "plan.physical_ms",
      "codegen.compiles", "codegen.compile_ms", "exec.driver_ms",
      "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
      "exec.task_cpu_ms", "exec.task_gc_ms", "exec.shuffle_write_bytes",
      "exec.spill_bytes", "cache.hits", "cache.misses", "cache.evictions",
      "host.gc_ms"))
  }
}
