package perfbench

import graft.operators.{Checkpoints, Curation, Dedup, Vocab}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** curate_batch: one op is one curation job on a distinct seeded ~90 %
  * sample of the documents: `Curation.pipelineE2E`, then
  * `Dedup.minHashPairs` on the survivors, then `Vocab.bpeEncode` with 10k
  * merges, each step materialized. Each op's sample has its own literals,
  * so its plans hash differently and GraftCache cannot serve a repeat. */
final class Curate(seed: Long, work: String) extends Workload {
  import Curate._

  /** Jobs run 4–6 s, so a round of one let a 6-s run record one job or two
    * depending on the first job's speed, and the median jumped between the
    * two cases. A round of two fixes the count. */
  override val roundSize = 2

  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var texts: Array[String] = _

  def prepareInputs(s: SparkSession): Unit =
    Gen.documents(s, seed).write.mode("overwrite").parquet(s"$work/data/documents")

  def setUp(s: SparkSession, layers: Layers): Unit = {
    spark = s
    docs = spark.read.parquet(s"$work/data/documents")
    // expected-result preparation: the texts the distinct count runs over
    texts = Array.tabulate(Gen.NDocuments)(Gen.docText(seed, _))
  }

  /** Sample membership of document `d` in op `i`: a seeded affine hash. */
  private def params(i: Long): (Long, Long) =
    (1 + Gen.u(seed, 9, i, 0, 1000), Gen.u(seed, 9, i, 1, 1000))
  private def keep(i: Long, d: Long): Boolean = {
    val (a, b) = params(i); (d * a + b) % 1009 % 10 != 0
  }

  def warmUp(): Unit = (0 until WarmOps).foreach(k => job(-1L - k, None))

  def op(i: Long, ctx: OpCtx): Boolean = job(i, Some(ctx))

  private def job(i: Long, ctx: Option[OpCtx]): Boolean = {
    val (a, b) = params(i)
    val sample = docs.filter(pmod(col("doc_id") * a + b, lit(1009L)) % 10 =!= 0)
    val distinctTexts = texts.indices.iterator.filter(d => keep(i, d.toLong))
      .map(texts(_)).toSet.size
    ctx.foreach(_.descriptor = s"sample $a $b distinct $distinctTexts")
    def span[T](name: String)(body: => T): T = ctx match {
      case Some(c) => c.span(name)(body)
      case None => body
    }
    def run(): (Long, Long, Long, Long) = {
      val survivors = span("operators.pipeline_e2e") {
        val kept = Curation.pipelineE2E(sample, "text", "doc_id",
          maxXent = MaxXent, stopwords = Stopwords).select("doc_id")
        Checkpoints.eager(sample.join(kept, Seq("doc_id"), "left_semi")
          .select("doc_id", "text"))
      }
      val nSurvivors = survivors.count()
      val nPairs = span("operators.minhash_pairs") {
        Dedup.minHashPairs(survivors, "text", "doc_id").count()
      }
      val bpe = span("operators.bpe_encode") {
        val enc = Vocab.bpeEncode(survivors, "text", Merges)
        // the rebuilt subword stream against the plain token stream
        val rebuilt = array_join(col("subwords"), "")
        val tokens = array_join(array_remove(split(lower(col("text")), "\\s+"), ""), "")
        enc.agg(count(lit(1)), sum(when(rebuilt === tokens, 0L).otherwise(1L))).head()
      }
      Checkpoints.releaseFrame(survivors)
      ctx.foreach { c =>
        c.layers.first("operators.survivors", nSurvivors.toDouble)
        c.layers.first("operators.pairs", nPairs.toDouble)
      }
      (nSurvivors, bpe.getLong(0), bpe.getLong(1), nPairs)
    }
    val (nSurvivors, nEncoded, mismatches, _) = ctx match {
      case Some(c) => c.timed(run())
      case None => run()
    }
    val kept = Dedup.exactRows(sample, "text", "doc_id").count()
    Checkpoints.sweep()
    val ok = nEncoded == nSurvivors && mismatches == 0 && kept == distinctTexts
    if (!ok) System.err.println(s"[perfbench] curate check failed for op $i: " +
      s"survivors=$nSurvivors encoded=$nEncoded bpe_mismatches=$mismatches " +
      s"exact_dedup_kept=$kept distinct_texts=$distinctTexts")
    ok
  }
}

object Curate {
  val WarmOps = 1
  /** Keeps about three quarters of the generated corpus. */
  val MaxXent = 3.95
  /** The generated corpus's own stopwords (the Gopher rule needs two hits). */
  val Stopwords: Seq[String] = Gen.Words.take(4).toSeq
  /** 10k merges: every pair of [a-z0-9] units, then unit triples. */
  val Merges: Seq[(String, String)] = {
    val units = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    val m1 = for (l <- units; r <- units) yield (l, r)
    val m2 = for (l <- units; r <- units; x <- units) yield (l + r, x)
    (m1 ++ m2).take(10000)
  }
}
