package perfbench

import graft.sources.IndexedTable
import graft.sql.PinotSql
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import scala.collection.mutable

/** olap_serve: a seeded sequence of Pinot-dialect queries over the sf0.1
  * tables, one client, closed loop. Ten templates get one op each per
  * round, in a seeded order with seeded literals; each result is collected
  * to the driver and its rows are compared with rows an in-memory Scala
  * oracle computed from the generator before the op was timed. */
final class Olap(seed: Long, work: String) extends Workload {
  import Olap._

  override val roundSize: Int = Templates.length

  private var spark: SparkSession = _
  private var rep = 0
  private var data: OracleData = _
  private val rng = new scala.util.Random(seed)
  private val warmRng = new scala.util.Random(~seed)
  private var order: Seq[Int] = Nil

  def prepareInputs(s: SparkSession): Unit = Gen.writeAll(s, seed, s"$work/data")

  def setUp(s: SparkSession, layers: Layers): Unit = {
    spark = s
    rep += 1
    Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      spark.read.parquet(s"$work/data/$t").createOrReplaceTempView(t)
    }
    // a fresh index root per set-up, so every set-up builds the indexes
    val indexRoot = s"$work/index-$rep"
    IndexedTable.writeConfig(spark, s"$indexRoot/documents", IndexedTable.Config(
      text = Seq(IndexedTable.TextIdx("text", "doc_id"))))
    IndexedTable.writeConfig(spark, s"$indexRoot/events", IndexedTable.Config(
      json = Seq(IndexedTable.JsonIdx("props", "event_id", "k INT, tag STRING")),
      star = Seq(IndexedTable.StarIdx(Seq("event_type", "user_id"),
        Seq(graft.operators.StarTree.Metric("value", Seq("sum", "min", "max")))))))
    val t0 = System.nanoTime()
    IndexedTable.open(spark, s"$work/data/documents", Some(s"$indexRoot/documents"))
      .createOrReplaceTempView("documents")
    IndexedTable.open(spark, s"$work/data/events", Some(s"$indexRoot/events"))
      .createOrReplaceTempView("events")
    layers.once("sources.index_open_ms", (System.nanoTime() - t0) / 1e6)
    // expected-result preparation: the oracle's column arrays
    data = new OracleData(seed)
    data.warm()
  }

  def warmUp(): Unit = (1 to WarmRounds).foreach { _ =>
    Templates.indices.foreach(t => runChecked(instance(t, warmRng), None))
  }

  private def instance(t: Int, r: scala.util.Random): Query =
    Templates(t)(r, data)

  def op(i: Long, ctx: OpCtx): Boolean = {
    if (i % roundSize == 0) order = rng.shuffle(Templates.indices.toList)
    ctx.kind = order((i % roundSize).toInt)
    val q = instance(ctx.kind, rng)
    ctx.descriptor = q.sql
    runChecked(q, Some(ctx))
  }

  private def runChecked(q: Query, ctx: Option[OpCtx]): Boolean = {
    val traced = ctx.exists(_.tracer.isDefined)
    val rows = ctx match {
      case Some(c) if traced =>
        c.timed {
          val df = c.span("sql.parse_analyze")(PinotSql.sql(spark, q.sql))
          val opt = c.span("rules.optimize")(df.queryExecution.optimizedPlan)
          c.span("plan.physical")(df.queryExecution.executedPlan)
          val out = c.span("exec.action")(df.collect())
          if (q.routable && c.firstTracedRound) {
            c.layers.count("rules.routable_ops")
            val reads = opt.collect { case lr: LogicalRelation => lr.relation }
              .collect { case fs: HadoopFsRelation => fs.location.rootPaths }
              .flatten.map(_.toString)
            if (reads.exists(_.contains(s"/index-$rep/"))) c.layers.count("rules.routed_ops")
          }
          out
        }
      case Some(c) => c.timed(PinotSql.sql(spark, q.sql).collect())
      case None => PinotSql.sql(spark, q.sql).collect()
    }
    val got = rows.iterator.map(r => r.toSeq.map(render).mkString("|")).toSeq
    val ok = got == q.expected
    if (!ok) System.err.println(
      s"[perfbench] olap result mismatch for: ${q.sql}\n  want ${q.expected.take(5)}\n  got  ${got.take(5)}")
    ok
  }
}

object Olap {
  val WarmRounds = 2
  final case class Query(sql: String, expected: Seq[String], routable: Boolean = false)

  /** Canonical text of one result value; the oracle emits the same types. */
  def render(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => (t.getTime * 1000).toString
    case other => other.toString
  }

  private def tsLit(micros: Long): String =
    "TIMESTAMP '" + java.time.Instant.ofEpochMilli(micros / 1000).toString
      .replace("T", " ").stripSuffix("Z") + "'"

  /** Column arrays of the generated tables, for the oracles. */
  final class OracleData(seed: Long) {
    lazy val liQty: Array[Double] = Array.tabulate(Gen.NLineitem)(Gen.liQty(seed, _))
    lazy val liPrice: Array[Double] = Array.tabulate(Gen.NLineitem)(Gen.liPrice(seed, _))
    lazy val liFlag: Array[String] = Array.tabulate(Gen.NLineitem)(Gen.liFlag(seed, _))
    lazy val liStatus: Array[String] = Array.tabulate(Gen.NLineitem)(Gen.liStatus(seed, _))
    lazy val liShip: Array[Long] = Array.tabulate(Gen.NLineitem)(Gen.liShip(seed, _))
    lazy val oCust: Array[Long] = Array.tabulate(Gen.NOrders)(Gen.ordCust(seed, _))
    lazy val oStatus: Array[String] = Array.tabulate(Gen.NOrders)(Gen.ordStatus(seed, _))
    lazy val oPrice: Array[Double] = Array.tabulate(Gen.NOrders)(Gen.ordPrice(seed, _))
    lazy val oDate: Array[Long] = Array.tabulate(Gen.NOrders)(Gen.ordDate(seed, _))
    lazy val oPrio: Array[String] = Array.tabulate(Gen.NOrders)(Gen.ordPriority(seed, _))
    lazy val cNation: Array[Int] = Array.tabulate(Gen.NCustomer)(Gen.custNation(seed, _))
    lazy val cSeg: Array[String] = Array.tabulate(Gen.NCustomer)(Gen.custSegment(seed, _))
    lazy val eTs: Array[Long] = Array.tabulate(Gen.NEvents)(Gen.evTs(seed, _))
    lazy val eUser: Array[Long] = Array.tabulate(Gen.NEvents)(Gen.evUser(seed, _))
    lazy val eType: Array[String] = Array.tabulate(Gen.NEvents)(Gen.evType(seed, _))
    lazy val eValue: Array[Double] = Array.tabulate(Gen.NEvents)(Gen.evValue(seed, _))
    lazy val eK: Array[Int] = Array.tabulate(Gen.NEvents)(Gen.evK(seed, _))
    lazy val dTokens: Array[Set[String]] =
      Array.tabulate(Gen.NDocuments)(i => Gen.docText(seed, i).split(" ").toSet)
    def warm(): Unit = {
      liQty; liPrice; liFlag; liStatus; liShip; oCust; oStatus; oPrice; oDate
      oPrio; cNation; cSeg; eTs; eUser; eType; eValue; eK; dTokens
    }
  }

  private def sumCount(keys: Iterator[(String, Double)]): Map[String, (Long, Double)] = {
    val m = mutable.HashMap.empty[String, (Long, Double)]
    keys.foreach { case (k, v) =>
      val (n, s) = m.getOrElse(k, (0L, 0.0)); m(k) = (n + 1, s + v)
    }
    m.toMap
  }

  /** Spark's exact `percentile` with linear interpolation. */
  private def percentile(vs: Array[Double], p: Double): Double = {
    val v = vs.sorted
    val pos = (v.length - 1) * p
    val lo = math.floor(pos).toLong; val hi = math.ceil(pos).toLong
    if (lo == hi || v(lo.toInt) == v(hi.toInt)) v(lo.toInt)
    else (hi - pos) * v(lo.toInt) + (pos - lo) * v(hi.toInt)
  }

  private val Day = Gen.Day
  private val Topics = Gen.Words.drop(4)

  type Template = (scala.util.Random, OracleData) => Query

  val Templates: Vector[Template] = Vector(
    // scan-aggregate, TPC-H Q1 shape
    (r, d) => {
      val cut = Gen.OrderEpoch + (1800 + r.nextInt(600)) * Day
      val acc = mutable.HashMap.empty[(String, String), (Double, Double, Long)]
      var i = 0
      while (i < Gen.NLineitem) {
        if (d.liShip(i) <= cut) {
          val k = (d.liFlag(i), d.liStatus(i))
          val (q, p, n) = acc.getOrElse(k, (0.0, 0.0, 0L))
          acc(k) = (q + d.liQty(i), p + d.liPrice(i), n + 1)
        }
        i += 1
      }
      Query(s"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        SUM(l_extendedprice) AS sum_price, COUNT(*) AS n FROM lineitem
        WHERE l_shipdate <= ${tsLit(cut)} GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus LIMIT 10""",
        acc.toSeq.sortBy(_._1).map { case ((f, s), (q, p, n)) => s"$f|$s|$q|$p|$n" })
    },
    // selective filter plus group-by on events
    (r, d) => {
      val a = r.nextInt(Gen.NUsers - 20).toLong
      val m = sumCount(d.eUser.indices.iterator
        .filter(i => d.eUser(i) >= a && d.eUser(i) <= a + 19)
        .map(i => d.eType(i) -> d.eValue(i)))
      Query(s"""SELECT event_type, COUNT(*) AS n, SUM(value) AS s FROM events
        WHERE user_id BETWEEN $a AND ${a + 19} GROUP BY event_type
        ORDER BY event_type LIMIT 10""",
        m.toSeq.sortBy(_._1).map { case (k, (n, s)) => s"$k|$n|$s" })
    },
    // top-N
    (r, d) => {
      val p = Gen.Priorities(r.nextInt(Gen.Priorities.length))
      val m = mutable.HashMap.empty[Long, Double]
      d.oPrio.indices.foreach { i =>
        if (d.oPrio(i) == p) m(d.oCust(i)) = m.getOrElse(d.oCust(i), 0.0) + d.oPrice(i)
      }
      Query(s"""SELECT o_custkey, SUM(o_totalprice) AS rev FROM orders
        WHERE o_orderpriority = '$p' GROUP BY o_custkey
        ORDER BY rev DESC, o_custkey LIMIT 10""",
        m.toSeq.sortBy { case (c, v) => (-v, c) }.take(10).map { case (c, v) => s"$c|$v" })
    },
    // selection with LIMIT
    (r, d) => {
      val x = 1000 + r.nextInt(490000)
      val st = "FOP".charAt(r.nextInt(3)).toString
      val hits = d.oPrice.indices.iterator
        .filter(i => d.oPrice(i) >= x && d.oStatus(i) == st).take(20)
        .map(i => s"${i + 1}|${d.oCust(i)}|${d.oPrice(i)}").toSeq
      Query(s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice >= $x AND o_orderstatus = '$st'
        ORDER BY o_orderkey LIMIT 20""", hits)
    },
    // 3-way join
    (r, d) => {
      val from = Gen.OrderEpoch + r.nextInt(2300) * Day
      val to = from + 90 * Day
      val seg = Gen.Segments(r.nextInt(Gen.Segments.length))
      val m = sumCount(d.oDate.indices.iterator.filter { i =>
        d.oDate(i) >= from && d.oDate(i) < to && d.cSeg((d.oCust(i) - 1).toInt) == seg
      }.map(i => Gen.Nations(d.cNation((d.oCust(i) - 1).toInt)) -> d.oPrice(i)))
      Query(s"""SELECT n_name, COUNT(*) AS n, SUM(o_totalprice) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= ${tsLit(from)} AND o_orderdate < ${tsLit(to)}
          AND c_mktsegment = '$seg'
        GROUP BY n_name ORDER BY n_name LIMIT 25""",
        m.toSeq.sortBy(_._1).map { case (k, (n, s)) => s"$k|$n|$s" })
    },
    // DISTINCTCOUNT / PERCENTILE
    (r, d) => {
      val from = Gen.EventEpoch + r.nextInt(25) * Day
      val to = from + 5 * Day
      val sel = d.eTs.indices.filter(i => d.eTs(i) >= from && d.eTs(i) < to)
      val rows = sel.groupBy(d.eType(_)).toSeq.sortBy(_._1).map { case (t, is) =>
        s"$t|${is.map(d.eUser(_)).distinct.size}|${percentile(is.map(d.eValue(_)).toArray, 0.5)}"
      }
      Query(s"""SELECT event_type, DISTINCTCOUNT(user_id) AS users,
        PERCENTILE(value, 50) AS p50 FROM events
        WHERE ts >= ${tsLit(from)} AND ts < ${tsLit(to)}
        GROUP BY event_type ORDER BY event_type LIMIT 10""", rows)
    },
    // hourly time bucket
    (r, d) => {
      val from = Gen.EventEpoch + r.nextInt(29) * Day
      val to = from + Day
      val m = sumCount(d.eTs.indices.iterator.filter(i => d.eTs(i) >= from && d.eTs(i) < to)
        .map(i => (Math.floorDiv(d.eTs(i), 3600000000L) * 3600L).toString -> d.eValue(i)))
      Query(s"""SELECT DATETRUNC('HOUR', TOEPOCHSECONDS(ts), 'SECONDS') AS hour,
        COUNT(*) AS n, SUM(value) AS s FROM events
        WHERE ts >= ${tsLit(from)} AND ts < ${tsLit(to)}
        GROUP BY 1 ORDER BY 1 LIMIT 24""",
        m.toSeq.sortBy(_._1.toLong).map { case (k, (n, s)) => s"$k|$n|$s" })
    },
    // TEXT_MATCH on the indexed text
    (r, d) => {
      val a = Topics(r.nextInt(Topics.length))
      val b = Topics(r.nextInt(Topics.length))
      val m = mutable.HashMap.empty[String, Long]
      d.dTokens.indices.foreach { i =>
        if (d.dTokens(i)(a) && d.dTokens(i)(b)) {
          val s = s"src${i % 4}"; m(s) = m.getOrElse(s, 0L) + 1
        }
      }
      Query(s"""SELECT source, COUNT(*) AS n FROM documents
        WHERE TEXT_MATCH(text, '$a AND $b') GROUP BY source
        ORDER BY source LIMIT 10""",
        m.toSeq.sortBy(_._1).map { case (s, n) => s"$s|$n" }, routable = true)
    },
    // JSON_MATCH on the indexed JSON
    (r, d) => {
      val k = r.nextInt(100)
      val m = sumCount(d.eK.indices.iterator.filter(d.eK(_) == k)
        .map(i => d.eType(i) -> d.eValue(i)))
      Query(s"""SELECT event_type, COUNT(*) AS n, SUM(value) AS s FROM events
        WHERE JSON_MATCH(props, '"$$.k" = $k') GROUP BY event_type
        ORDER BY event_type LIMIT 10""",
        m.toSeq.sortBy(_._1).map { case (t, (n, s)) => s"$t|$n|$s" }, routable = true)
    },
    // star-tree-eligible group-by. One plan shape: a top 10 of the 1,500
    // users costs about twice as much, and a seeded pick between the two
    // shapes makes this template's median jump between runs.
    (r, d) => {
      val fn = Seq("SUM", "MIN", "MAX")(r.nextInt(3))
      def agg(vs: Seq[Double]): Double =
        if (fn == "SUM") vs.sum else if (fn == "MIN") vs.min else vs.max
      val rows = d.eType.indices.groupBy(d.eType(_)).toSeq.sortBy(_._1)
        .map { case (t, is) => s"$t|${agg(is.map(d.eValue(_)))}|${is.size}" }
      Query(s"""SELECT event_type, $fn(value) AS v, COUNT(*) AS n FROM events
        GROUP BY event_type ORDER BY event_type LIMIT 10""", rows, routable = true)
    })
}
