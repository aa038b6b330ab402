package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Scale posture (SURVEY §4.3): on a real cluster the same builder is used
  * with a cluster master; everything below is sizing-neutral. AQE handles
  * runtime re-planning (skew joins, dynamic coalescing) — the Spark analog
  * of the reference's combine-operator early termination and broker-side
  * re-planning. `local[N]` here only for tests/bench.
  */
object GraftSession {
  /** Extra session confs from the environment (semicolon-separated k=v
    * pairs in SPARK_GRAFT_CONF) — lets bench/verify A/B a runtime conf
    * (e.g. spark.graft.json.sharedParse=false) without a code edit,
    * mirroring spark-submit --conf for the forked local JVM. */
  private def envConfs: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }

  def builder(cpus: Int): SparkSession.Builder = {
    val base = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst stays at its default (true): size-only coalescing
      // (false) collapses the small-scale window/sort shuffles to one task
      // and serializes them — measured slower here, and at cluster scale
      // the advisory size governs either way
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // long-lived-session hygiene: the app/SQL status stores retain
      // per-job/stage/task/execution detail on the driver heap even with
      // the UI off — defaults (1000 jobs/stages, 100k tasks, 1000 SQL
      // executions) grow to hundreds of MB over a many-query session and
      // squeeze execution memory (round-6 degradation). An analytics
      // service keeps enough for debugging, not the whole history.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.worker.ui.retainedExecutors", "50")
      // generated-class cache: the 100-entry default thrashes once a
      // session cycles >100 distinct plan shapes (an analytics service
      // always does) — every re-planned query then pays janino
      // recompilation and runs interpreted until C2 warms the fresh
      // class. 1000 entries ≈ a few tens of MB of classes, cheap
      // insurance for a long-lived session. Static conf: set at build.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // events.parquet carries TIMESTAMP(NANOS); read as long, see Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE: keep the default INT96 parquet timestamp output — the
      // MICROS logical type is flagged UTC-adjusted, which the driver's
      // pandas side reads as tz-aware while DuckDB's oracle output is
      // naive → every timestamp column would mismatch.
      // streaming checkpoint commits on file: roots rename without
      // forking a process per file (see GraftCheckpointFileManager)
      .config(graft.streaming.GraftCheckpointFileManager.ConfKey,
        classOf[graft.streaming.GraftCheckpointFileManager].getName)
    // env overrides apply LAST so SPARK_GRAFT_CONF can override the
    // built-in keys above too (e.g. spark.sql.shuffle.partitions), the
    // way spark-submit --conf would (ADVICE r15)
    envConfs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
  }

  /** Warehouse directory `name` scoped by the Spark APPLICATION id: two
    * concurrent sessions (parallel test runs, bench + tests) writing the
    * same table/index names get disjoint directories instead of deleting
    * each other's live data. The layout dies with the app, like the
    * in-memory catalog that names it (a real cluster swaps in a
    * persistent metastore + durable warehouse path). */
  def appDir(spark: SparkSession, name: String): String =
    s"/tmp/graft-warehouse/apps/${spark.sparkContext.applicationId}/$name"

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
