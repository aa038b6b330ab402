package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** [[Profiler]] scopes: a scope's record holds the work its body ran and
  * none of its neighbours' — the attribution the bench's per-gate
  * `layers`, `interpreted` verdict and stream `batches_jobs` rest on. */
class ProfilerSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val prof = new Profiler(spark)

  override def afterAll(): Unit = {
    prof.close()
    super.afterAll()
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a query's jobs and planning phases land in its scope, not the next") {
    var a: Profiler.Record = null
    val outer = prof.scope("outer") {
      a = prof.scope("a")(noop(spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 7).as("k")).agg(sum("id").as("s"))))
    }
    val b = prof.scope("b")(())
    assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0, a)
    assert(a.shuffleWriteBytes > 0, a)
    assert(a.parseAnalyzeMs + a.optimizeMs + a.physicalMs > 0, a)
    assert(a.topRules.nonEmpty, a)
    // nested: the enclosing scope counts its child's events too
    assert(outer.jobs >= a.jobs && outer.tasks >= a.tasks, outer)
    assert(b.jobs == 0 && b.stages == 0 && b.tasks == 0, b)
    assert(b.parseAnalyzeMs + b.optimizeMs + b.physicalMs == 0, b)
    assert(b.topRules.isEmpty && b.shuffleWriteBytes == 0, b)
  }

  test("micro-batch jobs from the streaming thread land in the open scope") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val mem = MemoryStream[Long]
    var rows = 0L
    val q = mem.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows += df.count()
      }.start()
    try {
      val batch = prof.scope("batch") {
        mem.addData(1L, 2L, 3L)
        q.processAllAvailable()
      }
      val after = prof.scope("after")(Thread.sleep(20))
      assert(rows == 3)
      assert(batch.jobs > 0 && batch.tasks > 0, batch)
      assert(after.jobs == 0 && after.tasks == 0, after)
    } finally q.stop()
  }

  test("an interpreted transform(...) is attributed to its own scope only") {
    val xs = spark.range(0, 50).select(array(col("id"), col("id") + 1)
      .as("xs"))
    val hof = prof.scope("hof")(noop(xs.select(
      transform(col("xs"), x => x * 2).as("y"))))
    val plain = prof.scope("plain")(noop(xs.select(size(col("xs")).as("n"))))
    assert(hof.interpreted.contains("ArrayTransform"), hof)
    assert(!plain.interpreted.contains("ArrayTransform"), plain)
    assert(plain.jobs > 0, plain)
  }

  test("driver time is wall time no job covers, never above wall") {
    val idle = prof.scope("idle")(Thread.sleep(50))
    assert(idle.driverMs <= idle.wallMs && idle.driverMs >= 45, idle)
    val busy = prof.scope("busy")(noop(spark.range(0, 100000, 1, 4)
      .groupBy((col("id") % 11).as("k")).count()))
    assert(busy.jobs > 0)
    assert(busy.driverMs >= 0 && busy.driverMs <= busy.wallMs, busy)
    assert(Profiler.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L), (7L, 3L)))
      == 30L)
  }
}
