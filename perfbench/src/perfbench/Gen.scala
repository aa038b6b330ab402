package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: sf0.1-sized TPC-H-style tables, an events table
  * and a documents corpus.
  *
  * Every field is a pure function of (seed, table, row, field) through a
  * SplitMix64 mix, so Spark tasks and the driver-side oracles regenerate
  * the same rows independently and the same seed always yields the same
  * inputs. Money and metric columns hold whole numbers (as DOUBLE), so sums
  * are exact in any summation order and result digests compare bit-equal. */
object Gen {
  val NNation = 25
  val NCustomer = 15000
  val NOrders = 150000
  val LinesPerOrder = 4
  val NLineitem: Int = NOrders * LinesPerOrder
  val NEvents = 100000
  val NDocuments = 5000
  val NUsers = 1500

  val Nations: Array[String] = Array("ALGERIA", "ARGENTINA", "BRAZIL",
    "CANADA", "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA",
    "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE",
    "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  val Segments: Array[String] =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Array[String] =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes: Array[String] =
    Array("click", "view", "purchase", "signup", "error")
  val Tags: Array[String] = Array.tabulate(8)(i => s"t$i")
  /** Document vocabulary; the first four are the corpus stopwords the
    * curation gate counts, so most documents pass it. */
  val Words: Array[String] = Array("the", "a", "key", "value", "spark",
    "query", "table", "stream", "index", "segment", "filter", "group",
    "join", "scan", "sort", "hash", "merge", "window", "batch", "row",
    "column", "order", "line", "part", "data", "fast", "slow", "big",
    "small", "vector", "agg", "plan", "cache", "broker", "server", "upsert",
    "realtime", "offline", "tenant", "schema", "metric", "dimension",
    "bitmap", "dictionary", "forward", "inverted", "range", "sorted",
    "startree", "json", "text", "lucene", "kafka", "minion", "controller",
    "ingest", "compaction", "retention", "replica", "partition", "shard")

  val Day: Long = 86400L * 1000000L
  /** 1992-01-01 and 2024-01-01 in epoch micros. */
  val OrderEpoch: Long = 8035L * Day
  val EventEpoch: Long = 19723L * Day
  val EventStep: Long = 25920000L // 30 days / 100k events, in micros

  // ---- counter-based RNG ------------------------------------------------

  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, table: Int, row: Long, field: Int): Long =
    mix(mix(mix(seed ^ (table.toLong << 48)) + row) + field)
  def u(seed: Long, table: Int, row: Long, field: Int, n: Int): Int =
    java.lang.Math.floorMod(h(seed, table, row, field), n.toLong).toInt

  private val TCustomer = 1
  private val TOrders = 2
  private val TLineitem = 3
  private val TEvents = 4
  private val TDocs = 5

  // ---- rows (pure functions) -------------------------------------------

  def custNation(s: Long, i: Int): Int = u(s, TCustomer, i, 0, NNation)
  def custSegment(s: Long, i: Int): String =
    Segments(u(s, TCustomer, i, 1, Segments.length))
  def custBal(s: Long, i: Int): Double = u(s, TCustomer, i, 2, 11000) - 1000

  def ordCust(s: Long, i: Int): Long = 1L + u(s, TOrders, i, 0, NCustomer)
  def ordStatus(s: Long, i: Int): String = "FOP".charAt(u(s, TOrders, i, 1, 3)).toString
  def ordPrice(s: Long, i: Int): Double = 1000 + u(s, TOrders, i, 2, 500000)
  def ordDate(s: Long, i: Int): Long = OrderEpoch + u(s, TOrders, i, 3, 2406) * Day
  def ordPriority(s: Long, i: Int): String =
    Priorities(u(s, TOrders, i, 4, Priorities.length))

  def liQty(s: Long, i: Int): Double = 1 + u(s, TLineitem, i, 0, 50)
  def liPrice(s: Long, i: Int): Double = liQty(s, i) * (900 + u(s, TLineitem, i, 1, 1100))
  def liFlag(s: Long, i: Int): String = "ANR".charAt(u(s, TLineitem, i, 2, 3)).toString
  def liStatus(s: Long, i: Int): String = "OF".charAt(u(s, TLineitem, i, 3, 2)).toString
  def liShip(s: Long, i: Int): Long =
    ordDate(s, i / LinesPerOrder) + (1 + u(s, TLineitem, i, 4, 121)) * Day

  /** Strictly increasing in the row number: the table is in event-time order. */
  def evTs(s: Long, i: Long): Long =
    EventEpoch + i * EventStep + u(s, TEvents, i, 0, 25000) * 1000L
  def evUser(s: Long, i: Long): Long = u(s, TEvents, i, 1, NUsers)
  def evType(s: Long, i: Long): String = EventTypes(u(s, TEvents, i, 2, EventTypes.length))
  def evValue(s: Long, i: Long): Double = 1 + u(s, TEvents, i, 3, 500)
  def evK(s: Long, i: Long): Int = u(s, TEvents, i, 4, 100)
  def evTag(s: Long, i: Long): String = Tags(u(s, TEvents, i, 5, Tags.length))
  def evProps(s: Long, i: Long): String =
    s"""{"k": ${evK(s, i)}, "tag": "${evTag(s, i)}"}"""
  /** About 2 % of streamed events are deletes. */
  def evDeleted(s: Long, i: Long): Boolean = u(s, TEvents, i, 6, 50) == 0

  /** Word-bag documents with a skewed word distribution; ~1 % are exact
    * copies of an earlier document and ~4 % near copies (one word swapped),
    * so exact dedup and MinHash both find work. */
  def docText(s: Long, i: Int): String = {
    val kind = u(s, TDocs, i, 0, 100)
    if (i >= 100 && kind == 0) docText(s, i - 1 - u(s, TDocs, i, 1, 99))
    else if (i >= 100 && kind <= 4) {
      val w = docText(s, i - 1 - u(s, TDocs, i, 1, 99)).split(" ")
      w(u(s, TDocs, i, 2, w.length)) = Words(u(s, TDocs, i, 3, Words.length))
      w.mkString(" ")
    } else {
      val n = 20 + u(s, TDocs, i, 4, 80)
      val sb = new StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        // min of two uniforms: low word ids are favoured
        val a = u(s, TDocs, i, 100 + 2 * j, Words.length)
        val b = u(s, TDocs, i, 101 + 2 * j, Words.length)
        sb.append(Words(math.min(a, b)))
        j += 1
      }
      sb.toString
    }
  }

  // ---- Spark tables ---------------------------------------------------

  private def table(spark: SparkSession, n: Int, schema: StructType)
                   (row: Int => Row): DataFrame = {
    val slices = math.max(1, spark.sparkContext.defaultParallelism)
    spark.createDataFrame(
      spark.sparkContext.parallelize(0 until n, slices).map(row), schema)
  }

  /** Every generated time is a whole number of milliseconds. */
  private def ts(micros: Long) = new java.sql.Timestamp(micros / 1000)

  def nation(spark: SparkSession): DataFrame =
    table(spark, NNation, StructType.fromDDL(
      "n_nationkey INT, n_name STRING, n_regionkey INT")) { i =>
      Row(i, Nations(i), i % 5)
    }

  def customer(spark: SparkSession, s: Long): DataFrame =
    table(spark, NCustomer, StructType.fromDDL("c_custkey BIGINT, " +
      "c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")) { i =>
      Row(i + 1L, f"Customer#$i%09d", custNation(s, i), custBal(s, i),
        custSegment(s, i))
    }

  def orders(spark: SparkSession, s: Long): DataFrame =
    table(spark, NOrders, StructType.fromDDL("o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP, o_orderpriority STRING")) { i =>
      Row(i + 1L, ordCust(s, i), ordStatus(s, i), ordPrice(s, i),
        ts(ordDate(s, i)), ordPriority(s, i))
    }

  def lineitem(spark: SparkSession, s: Long): DataFrame =
    table(spark, NLineitem, StructType.fromDDL("l_orderkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP")) { i =>
      Row(1L + i / LinesPerOrder, 1 + i % LinesPerOrder, liQty(s, i),
        liPrice(s, i), liFlag(s, i), liStatus(s, i), ts(liShip(s, i)))
    }

  def events(spark: SparkSession, s: Long): DataFrame =
    table(spark, NEvents, StructType.fromDDL("event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING")) { i =>
      Row(i.toLong, ts(evTs(s, i)), evUser(s, i), evType(s, i), evValue(s, i),
        evProps(s, i))
    }

  def documents(spark: SparkSession, s: Long): DataFrame =
    table(spark, NDocuments, StructType.fromDDL("doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT")) { i =>
      val t = docText(s, i)
      Row(i.toLong, t, "en", s"src${i % 4}", t.length.toLong)
    }

  /** Write every table as parquet under `dir` (one directory per table),
    * the tables' jobs running concurrently. */
  def writeAll(spark: SparkSession, s: Long, dir: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val tables = Seq("lineitem" -> (() => lineitem(spark, s)),
      "orders" -> (() => orders(spark, s)), "events" -> (() => events(spark, s)),
      "documents" -> (() => documents(spark, s)),
      "customer" -> (() => customer(spark, s)), "nation" -> (() => nation(spark)))
    val writes = tables.map { case (name, df) =>
      Future(df().write.mode("overwrite").parquet(s"$dir/$name"))
    }
    writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** Digest of the parquet tables under `dir`: per table, its row count and
    * the XOR of its rows' xxhash64, so row order does not matter. The
    * tables' jobs run concurrently. */
  def inputsDigest(spark: SparkSession, dir: String): String = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val tables = Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted
    val lines = tables.map { t =>
      Future {
        val r = spark.read.parquet(s"$dir/$t").selectExpr("count(1)", "bit_xor(xxhash64(*))").head()
        s"$t ${r.get(0)} ${r.get(1)}"
      }
    }
    digest(lines.iterator.map(Await.result(_, scala.concurrent.duration.Duration.Inf)))
  }

  /** Stable digest of a sequence of lines (SHA-256, hex). */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
