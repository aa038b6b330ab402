package graft.operators

import graft.functions.Vectors
import graft.sources.IncrementalIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The candidate join is query×corpus; with few query points Spark
  *    broadcasts the queries, so the corpus is scanned once, map-side, no
  *    shuffle of the corpus. Ranking is a bounded per-query top-k (window
  *    row_number over a partition keyed by query id — k·|Q| rows survive).
  *  - [[bucketedTopK]]: sign-bucket LSH — queries only compare against
  *    co-bucketed candidates (equi-join on the bucket key). At 100 TB this
  *    is the difference between a full-corpus scan per query batch and a
  *    keyed shuffle that touches ~|corpus|/2^nBits rows per bucket. Recall
  *    is traded via nBits; multi-probe = union over neighboring buckets.
  */
object Similarity {
  /** Exact top-k by cosine for each query row. Both inputs need (idCol,
    * vecCol). Deterministic: ties break by candidate id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    // norms ride each side precomputed — per pair: one dot product
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.norm2(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      Vectors.norm2(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** HARD-NEGATIVE mining for contrastive training data (the DPR /
    * SimCSE prep step): for each anchor, the k MOST-similar candidates
    * whose cosine is strictly BELOW `dupCut`. Candidates at or above
    * the cut are near-duplicates/paraphrases of the anchor — the
    * classic FALSE negatives that poison a contrastive objective — and
    * are excluded along with self; what survives is the hardest honest
    * negative band. Output (query_id, cand_id, cos, rk), the ANN
    * tiers' shape. Brute tier: corpus×anchors Cross with the anchor
    * BATCH broadcast (anchors are a training batch, not a corpus) —
    * the oracle shape; [[hardNegativesCells]] is the scale path. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, k: Int, dupCut: Double): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.norm2(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      Vectors.norm2(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("cos"))
      .filter(col("cos") < dupCut)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF-pruned hard negatives — the 100 TB path: anchors probe their
    * `nProbe` nearest seeded cells (the ANN probe order: scaled-long
    * distance, ties to the lowest cell) and mine only those cells'
    * candidates. Hard negatives are by definition NEAR the anchor —
    * exactly what cell probing retrieves; the unprobed cells hold easy
    * negatives, which in-batch random sampling supplies for free. Per
    * anchor the scan touches ~nProbe/nCells of the corpus. */
  def hardNegativesCells(corpus: DataFrame, anchors: DataFrame,
                         idCol: String, vecCol: String,
                         cells: Array[Array[Float]], nProbe: Int, k: Int,
                         dupCut: Double): DataFrame = {
    require(nProbe >= 1 && nProbe <= cells.length,
      s"nProbe $nProbe not in [1, ${cells.length}]")
    val assigned = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), cellArgmin(col(vecCol), cells).as("cell"),
      Vectors.norm2(col(vecCol)).as("cn"))
    val qprobe = anchors.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), Vectors.norm2(col(vecCol)).as("qn"),
      explode(transform(slice(array_sort(
        cellScores(col(vecCol), cells)), 1, nProbe),
        p => p.getField("c"))).as("cell"))
    val scored = assigned.join(broadcast(qprobe), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("cos"))
      .filter(col("cos") < dupCut)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Multi-probe sign-bucket LSH: each query also probes the buckets at
    * Hamming distance 1 from its own (flip each sign bit once) — the
    * standard recall recovery for points near a hyperplane. Candidate
    * volume grows ×(nBits+1) but stays an equi-join on the bucket key;
    * at scale that is still ~|corpus|·(nBits+1)/2^nBits per query batch,
    * nowhere near a full scan. */
  def multiProbeTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nBits: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.signBucket(col(vecCol), nBits).as("bucket0"),
      Vectors.norm2(col(vecCol)).as("qn"))
    val probed = q.withColumn("bucket",
      explode(array(col("bucket0") +: (0 until nBits).map(i =>
        col("bucket0").bitwiseXOR(lit(1 << i))): _*)))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      Vectors.signBucket(col(vecCol), nBits).as("bucket"),
      Vectors.norm2(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(probed), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("cos"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** A built IVF index: per-candidate cell assignment (+ precomputed
    * norms) and the tiny centroid table. The reference builds vector
    * indexes at segment-build/load time, NOT per query — [[ivfIndex]]
    * mirrors that lifecycle, so repeated queries reuse the clustering. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  private val Owner = "ivf"

  /** Per-owner cache cap (test hook: specs shrink it to exercise
    * eviction). IVF indexes live in the shared [[GraftCache]] budget with
    * Dedup/JsonIndex — bounded in SUM across operators (round-6 fix).
    * Keys carry the session identity so entries from a stopped
    * SparkSession are never served to a new one. */
  private[graft] def ivfCacheCapacity: Int = GraftCache.ownerCapacity(Owner)
  private[graft] def ivfCacheCapacity_=(n: Int): Unit =
    GraftCache.setOwnerCapacity(Owner, n)

  private[graft] def ivfCacheKeys: Set[(Int, String, Int)] =
    GraftCache.keys(Owner)
      .collect { case k: (Int, String, Int) @unchecked => k }

  /** Drop every cached index (unpersisting each). Test hook / explicit
    * invalidation for in-place corpus rewrites. */
  def ivfCacheClear(): Unit = GraftCache.clear(Owner)

  /** Build (or fetch the cached) IVF index for a corpus. `cacheKey`
    * identifies the corpus SNAPSHOT — it must change whenever the corpus
    * content changes (a path alone is not enough if data is rewritten in
    * place; include a version/mtime). Pass None to force a fresh build
    * (mutable data). */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, cacheKey: Option[String]): IvfIndex = {
    def build(): IvfIndex = {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val feats = corpus.select(col(idCol), col(vecCol),
        array_to_vector(col(vecCol)).as("features")).cache()
      val model = new KMeans().setK(nCentroids).setSeed(42L).setMaxIter(5)
        .fit(feats)
      val assigned = model.transform(feats)
        .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
          col("prediction").as("cell"),
          Vectors.norm2(col(vecCol)).as("cn")).cache()
      // index build is eager (load-time lifecycle): materialize the
      // assignment, then drop the training-features cache
      assigned.count()
      feats.unpersist(false)
      val centroids = corpus.sparkSession.createDataFrame(
        model.clusterCenters.zipWithIndex.toSeq
          .map { case (c, i) => (i, c.toArray.map(_.toFloat)) })
        .toDF("cell", "centroid")
      IvfIndex(assigned, centroids)
    }
    cacheKey.fold(build()) { k =>
      val key = (System.identityHashCode(corpus.sparkSession), k, nCentroids)
      GraftCache.getOrBuild(Owner, key)(build()) { ix =>
        try ix.assigned.unpersist(false) catch { case _: Throwable => () }
      }
    }
  }

  /** IVF (inverted-file) ANN: k-means centroids partition the corpus into
    * `nCentroids` cells; a query scores only candidates in its `nProbe`
    * nearest cells. The classic trained scale path: at 100 TB the corpus
    * is clustered once (cells become partition keys — co-located, prunable)
    * and each query touches ~nProbe/nCentroids of the data. Training uses
    * MLlib KMeans (seeded); assignment + probing are plain DataFrame ops so
    * the search itself stays in Catalyst. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
              cacheKey: Option[String] = None): DataFrame =
    ivfTopKWith(ivfIndex(corpus, idCol, vecCol, nCentroids, cacheKey),
      queries, idCol, vecCol, k, nProbe)

  /** Directory layout of a persisted IVF index: the cell-partitioned
    * `assigned` table lives on the [[IncrementalIndex]] protocol (its
    * tag, tombstone, staging and compaction dirs are the protocol's
    * `assigned_*` siblings); the centroids ride alongside at
    * `$dir/centroids`. */
  def ivfSpec(dir: String): IncrementalIndex.Spec =
    IncrementalIndex.Spec(dir, "assigned", Some("cell"))

  /** Persist a built IVF index with CELLS AS PARTITION KEYS — the on-disk
    * layout of the 100 TB story above: each query's probes prune to
    * nProbe cell directories, co-located and scannable without touching
    * the rest of the corpus. Centroids (tiny) ride alongside. A
    * re-persist replaces the whole index: committed tags and tombstones
    * of an earlier index at `dir` are dropped, so they can neither hide
    * ids of the new one nor turn its appends into replays. */
  def persistIvfIndex(index: IvfIndex, dir: String): Unit = {
    IncrementalIndex.rebuild(ivfSpec(dir), index.assigned)
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load a persisted IVF index: a parquet read, NO re-clustering — the
    * cold-session path (the reference likewise memory-maps built vector
    * indexes at segment load, it never retrains). Tombstoned ids (from
    * [[deleteFromIvfIndex]]) are subtracted with one anti-join against
    * the (tiny) tombstone table, so deletes are visible immediately
    * without rewriting the index; [[compactIvfIndex]] folds them in. A
    * half-committed compaction swap is completed first. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String)
  : IvfIndex =
    IvfIndex(IncrementalIndex.load(spark, ivfSpec(dir), "cand_id"),
      spark.read.parquet(s"$dir/centroids"))

  /** Tombstone `ids` out of a persisted IVF index — the delete half of
    * the daily-pipeline lifecycle (docs dropped by curation/dedup must
    * leave the ANN index too). The id set lands as a tag-scoped
    * tombstone parquet (a replayed delete batch rewrites the same path,
    * naturally idempotent); readers subtract tombstones at load,
    * [[compactIvfIndex]] makes them physical. Tombstones are by id and
    * win until compaction: re-appending a deleted id requires a compact
    * between delete and append. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, ids: DataFrame, idCol: String,
                         batchTag: String): Unit =
    IncrementalIndex.delete(spark, ivfSpec(dir),
      ids.select(col(idCol).cast("long").as("cand_id")), "cand_id", batchTag)

  /** Fold tombstones into the index files: rewrite each cell without the
    * deleted rows (and, as a side effect, merge the per-append tag files
    * into one compacted file set per cell — the small-file compaction a
    * long-lived append stream needs). Crash-safe and replay-idempotent
    * through the protocol's staged swap; committed append tags
    * survive compaction, so a pre-compaction append batch replayed later
    * still no-ops. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Unit =
    IncrementalIndex.compact(spark, ivfSpec(dir), "cand_id")

  /** Append a batch of vectors to a persisted IVF index WITHOUT
    * retraining: each new vector joins the cell of its nearest existing
    * centroid (argmin L2, ties to the lowest cell — the same ordering
    * the probe side uses, so an appended exact twin of a query vector
    * always lands in the query's first probe cell). Appends are
    * `batchTag`-idempotent and crash-safe in either direction through
    * the protocol's staged commit — the same at-least-once
    * delivery contract as the incremental dedup indexes: a replayed
    * batch is a no-op, so a restarted ingestion job cannot double-index.
    *
    * Scale shape: one broadcast of the (tiny) centroid frame against the
    * BATCH only — the indexed corpus is never re-read — and a
    * cell-partitioned append, co-located with the existing layout. This
    * is the reference's realtime-segment lifecycle for vector indexes:
    * train once offline, assign streaming arrivals to the fixed
    * structure. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     batch: DataFrame, idCol: String, vecCol: String,
                     batchTag: String): Unit = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val w = Window.partitionBy(col("cand_id"))
      .orderBy(col("cdist"), col("cell"))
    IncrementalIndex.append(spark, ivfSpec(dir),
      batch.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
          Vectors.norm2(col(vecCol)).as("cn"))
        .crossJoin(broadcast(centroids))
        .withColumn("cdist", Vectors.l2Distance(col("cv"), col("centroid")))
        .withColumn("pr", row_number().over(w))
        .filter(col("pr") === 1)
        .select(col("cand_id"), col("cv"), col("cn"), col("cell")),
      batchTag)
  }

  /** [[ivfTopK]] over an already-built (or disk-loaded) index. */
  def ivfTopKWith(index: IvfIndex, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val assigned = index.assigned
    val centroids = index.centroids
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.norm2(col(vecCol)).as("qn"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", Vectors.l2Distance(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))

    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** LSH-bucketed ANN: only candidates sharing the query's sign-bucket are
    * scored. Same output shape as [[bruteForceTopK]] (rk may stop short of k
    * when a bucket is sparse — the recall trade). */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nBits: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.signBucket(col(vecCol), nBits).as("bucket"),
      Vectors.norm2(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      Vectors.signBucket(col(vecCol), nBits).as("bucket"),
      Vectors.norm2(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  // ---- int8 quantization (the standard ANN memory/IO lever: float32
  // 4 B/dim → int8 1 B/dim + one scale per vector; cosine over quantized
  // vectors needs no scales at all — they cancel in the ratio) ----

  /** Per-vector symmetric int8 quantization: `q_i = round(x_i·127/max|x|)`
    * clamped to [-127,127] as `array<tinyint>`, plus `scale = max|x|/127`
    * for reconstruction. Zero vectors quantize to zeros with scale 0. One
    * codegen projection, no shuffle; the arithmetic is ordered exactly as
    * the DuckDB oracle replays it (x·127 first, then /max). */
  def quantizeEmbeddings(df: DataFrame, vecCol: String,
                         qCol: String = "qvec",
                         scaleCol: String = "qscale"): DataFrame = {
    val x = col(vecCol)
    val mx = array_max(transform(x, v => abs(v.cast("double"))))
    val q = when(mx === 0d, transform(x, _ => lit(0).cast("byte")))
      .otherwise(transform(x, v =>
        least(greatest(round(v.cast("double") * 127.0 / mx), lit(-127.0)),
          lit(127.0)).cast("byte")))
    df.withColumn(qCol, q).withColumn(scaleCol, mx / 127.0)
  }

  /** Reconstruction: `q_i·scale` back to float. Element error is bounded
    * by scale/2 (symmetric rounding). */
  def dequantize(qCol: Column, scaleCol: Column): Column =
    transform(qCol, v => (v.cast("double") * scaleCol).cast("float"))

  private def byteToFloat(c: Column): Column =
    transform(c, _.cast("float"))

  /** Brute-force top-k over QUANTIZED vectors — same output shape as
    * [[bruteForceTopK]], scoring `cos_q = q_a·q_b / (|q_a||q_b|)` (scales
    * cancel, so the int8 arrays alone rank candidates). Integer dots are
    * exact in double, which keeps the ranking engine-independent; the
    * exactness trade vs [[bruteForceTopK]] is the quantization error only.
    * At scale the corpus-side win is 4× less memory/IO for the scored
    * column — the reason IVF/HNSW deployments store int8. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    def side(df: DataFrame, id: String, v: String, n: String) = {
      val qd = quantizeEmbeddings(df, vecCol)
        .select(col(idCol).as(id), byteToFloat(col("qvec")).as(v))
      qd.withColumn(n, sqrt(Vectors.dot(col(v), col(v))))
    }
    val q = side(queries, "query_id", "qv", "qn")
    val c = side(corpus, "cand_id", "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(Vectors.dot(col("qv"), col("cv")) / nullif(col("qn") * col("cn"), lit(0.0)), 6)
          .as("qcos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  // ---- product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search"): split D dims into m subspaces, encode
  // each subvector as its nearest codebook centroid — D·4 bytes/vector
  // become m bytes (+ a shared m×k codebook). Queries stay float and
  // score candidates via ADC: one m×k distance table per query, then a
  // table lookup per (candidate, subspace). ----

  /** PQ codebook: `centroids(j)(c)` = centroid `c` of subspace `j`. */
  final case class PqModel(m: Int, k: Int,
                           centroids: Array[Array[Array[Float]]]) {
    def sub: Int = centroids(0)(0).length
  }

  /** Deterministic codebook: subvectors of the k lowest-id vectors (the
    * replayable stand-in for per-subspace k-means — same pattern as
    * [[graft.operators.Dedup.semanticAssign]]; the encode and ADC stages,
    * where all the 100 TB cost lives, are identical either way). O(k·D)
    * driver memory. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int): PqModel = {
    val seeds = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Float](1).toArray)
    require(seeds.length == k, s"corpus smaller than k=$k")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    PqModel(m, k,
      Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub))))
  }

  /** Trained PQ codebook: the seeded [[pqTrain]] centroids refined by
    * `iters` DETERMINISTIC Lloyd rounds, distributed. Each round assigns
    * every subvector to its nearest centroid with integer-quantized
    * distances (1e6-scaled squared L2, ties → lowest code — so the
    * argmin is partition-order independent), then recomputes centroids
    * from 1e6-scaled long dimension sums (order-free exact integer adds:
    * the mean is bit-identical at any parallelism). One job per round
    * over the m·|corpus| subvector rows; only the m·k·sub codebook comes
    * back to the driver. Seeded init + deterministic updates + a fixed
    * round count = the same codebook on every run and any cluster —
    * trained quality without giving up replayability. Empty cells keep
    * their previous centroid. [[pqTrain]] remains the replayable oracle
    * mode; this is the quality mode ([[pqTopKWith]] takes either). */
  def pqTrainLloyd(corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int, k: Int, iters: Int = 5): PqModel = {
    var model = pqTrain(corpus, idCol, vecCol, m, k)
    val sub = model.sub
    val subRows = corpus.select(
      explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col(vecCol), j * sub + 1, sub).as("x"))
      }: _*)).as("s"))
      .select(col("s.j").as("j"), col("s.x").as("x"))
      .persist()
    subRows.count()
    val sc = corpus.sparkSession.sparkContext
    for (_ <- 1 to iters) {
      val bc = sc.broadcast(model.centroids)
      val assign = udf { (j: Int, x: Seq[Float]) =>
        val cents = bc.value(j)
        var best = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < cents.length) {
          val cv = cents(c)
          var d = 0.0
          var i = 0
          while (i < cv.length) {
            val diff = x(i).toDouble - cv(i).toDouble
            d += diff * diff
            i += 1
          }
          val dU = math.floor(d * 1e6 + 0.5).toLong
          if (dU < bestD) { bestD = dU; best = c }
          c += 1
        }
        best
      }
      val sums = subRows
        .select(col("j"), assign(col("j"), col("x")).as("code"),
          posexplode(col("x")).as(Seq("d", "v")))
        .groupBy(col("j"), col("code"), col("d"))
        .agg(sum(round(col("v").cast("double") * 1e6).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(m, k) { (j, c) =>
        model.centroids(j)(c).clone()
      }
      sums.foreach { r =>
        val (j, c, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(j)(c)(d) =
          (r.getLong(3).toDouble / r.getLong(4) / 1e6).toFloat
      }
      bc.destroy()
      model = PqModel(m, k, next)
    }
    subRows.unpersist(false)
    model
  }

  /** Scaled-long squared L2 between a subvector expression and a constant
    * centroid: `round(x·x − 2·x·c + c·c, 6)·1e6` as a long. The
    * quantized-integer form makes every downstream SUM order-independent
    * and therefore engine-exact (distances are ≥ 0 up to float noise ≪
    * the 1e-6 resolution, so floor(v+0.5) is exact half-up). */
  private[graft] def subDistU(x: Column, cv: Seq[Float]): Column = {
    val cvLit = typedLit(cv)
    val d = round(Vectors.dot(x, x) - lit(2.0) * Vectors.dot(x, cvLit) +
      Vectors.dot(cvLit, cvLit), 6)
    floor(d * 1e6 + 0.5).cast("long")
  }

  /** Coarse-cell distance scores for probe selection:
    * `array<struct<d: long, c: int>>` over the nCells centroids, the
    * struct sort order (distance, then cell id) the probe slice and the
    * oracle's ROW_NUMBER share. One [[org.apache.spark.sql.graft.PqAdcTableExpr]]
    * call at m=1 (sub = full dim) — the same compact kernel as the PQ
    * tier, so whole-stage codegen survives any nCells. */
  private[graft] def cellScores(x: Column, cells: Array[Array[Float]]): Column = {
    val dists = element_at(org.apache.spark.sql.graft.PqExpressions
      .pqAdcTable(x, Array(cells)), 1)
    transform(dists, (d, i) => struct(d.as("d"), i.as("c")))
  }

  /** Nearest coarse cell id (ties → lowest id):
    * [[org.apache.spark.sql.graft.PqCodesExpr]] at m=1 — bit-identical to
    * `least(struct(subDistU, c)…).getField("c")` without the k-unrolled
    * expression tree. */
  private[graft] def cellArgmin(x: Column, cells: Array[Array[Float]]): Column =
    element_at(org.apache.spark.sql.graft.PqExpressions
      .pqCodes(x, Array(cells)), 1)

  /** Encode each vector as `array<tinyint>` of per-subspace nearest-
    * centroid codes (ties → lowest code). ONE compact codegen call per
    * row ([[org.apache.spark.sql.graft.PqCodesExpr]] — the previous
    * m·k-unrolled Column tree generated ~12k-line Java that janino
    * refused, silently de-optimizing to interpreted eval); no join, no
    * shuffle. Values are bit-identical to the unrolled form. */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel,
               codesCol: String = "pq_codes"): DataFrame =
    df.withColumn(codesCol,
      org.apache.spark.sql.graft.PqExpressions
        .pqCodes(col(vecCol), model.centroids)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType, containsNull = false)))

  /** IVF-PQ top-k — the canonical billion-scale ANN composition (FAISS's
    * IVFPQ layout, public knowledge): coarse IVF cells prune the corpus
    * to the query's `nProbe` nearest cells, PQ codes compress what
    * remains, ADC scores it. Deterministic throughout (seed centroids
    * for both tiers, scaled-long distances, id tie-breaks), so the WHOLE
    * composition — cell assignment, probe choice, encode, ADC, ranking —
    * replays in the oracle.
    *
    * Scale shape: the corpus carries (cell, m bytes); the probe is an
    * EQUI-JOIN on the cell id against broadcast queries — per query
    * batch the scan touches ~nProbe/nCells of the corpus, at m bytes per
    * row. Cell assignment and encode are one unrolled codegen
    * projection; nothing shuffles but the final bounded top-k window. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, nCells: Int, nProbe: Int, m: Int, k: Int,
                topK: Int): DataFrame =
    ivfPqTopKWith(corpus, queries, idCol, vecCol,
      ivfCellsSeeded(corpus, idCol, vecCol, nCells),
      pqTrain(corpus, idCol, vecCol, m, k), nProbe, topK)

  /** Seeded coarse cells for IVF-PQ: the nCells lowest-id vectors — the
    * replayable stand-in mirroring [[pqTrain]]. Oracle mode. */
  def ivfCellsSeeded(corpus: DataFrame, idCol: String, vecCol: String,
                     nCells: Int): Array[Array[Float]] = {
    val cells = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(nCells).collect()
      .map(_.getSeq[Float](1).toArray)
    require(cells.length == nCells, s"corpus smaller than $nCells")
    cells
  }

  /** Lloyd-trained coarse cells for IVF-PQ: [[pqTrainLloyd]] at m=1 over
    * the FULL vectors — nCells full-dimension centroids with the same
    * determinism story (seeded init, scaled-long integer updates, fixed
    * rounds → bit-identical at any parallelism). Quality mode: on real
    * data the seeded cells all sit wherever the lowest ids happen to
    * live, so probe pruning loses recall; trained cells spread over the
    * data and make nProbe/nCells an honest recall/IO dial. */
  def ivfCellsLloyd(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, iters: Int = 5): Array[Array[Float]] =
    pqTrainLloyd(corpus, idCol, vecCol, m = 1, k = nCells, iters)
      .centroids(0)

  /** [[ivfPqTopK]] over supplied coarse cells + PQ codebook — seeded
    * ([[ivfCellsSeeded]]/[[pqTrain]], the oracle mode) or Lloyd-trained
    * ([[ivfCellsLloyd]]/[[pqTrainLloyd]], the quality mode). Identical
    * plan either way; only the centroid constants differ. */
  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, cells: Array[Array[Float]],
                    model: PqModel, nProbe: Int, topK: Int): DataFrame = {
    val nCells = cells.length
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe $nProbe not in [1, $nCells]")
    val enc = pqEncode(corpus, vecCol, model)
      .select(col(idCol).as("cand_id"),
        cellArgmin(col(vecCol), cells).as("cell"), col("pq_codes"))
    val qtabs = org.apache.spark.sql.graft.PqExpressions
      .pqAdcTable(col(vecCol), model.centroids)
    // nProbe nearest cells: struct sort orders by (distance, cell id) —
    // the same total order the oracle's ROW_NUMBER uses
    val q = queries.select(col(idCol).as("query_id"), qtabs.as("qtab"),
      explode(transform(slice(array_sort(cellScores(col(vecCol), cells)),
        1, nProbe), p => p.getField("c"))).as("cell"))
    val adistU = org.apache.spark.sql.graft.PqExpressions
      .pqAdcSum(col("qtab"), col("pq_codes"))
    val scored = enc.join(broadcast(q), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), adistU.as("adist_u"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_u"), col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
  }

  /** PQ ANN top-k by ADC: candidates carry only their m-byte codes; each
    * query row computes its m×k distance table once (unrolled into the
    * projection), and scoring a candidate is m array lookups + an exact
    * long sum (`adist_u` = squared L2 scaled by 1e6). At scale the
    * corpus-side read is m bytes/vector — a 32× IO cut at D=64 float32 —
    * and the scan stays map-only against broadcast queries. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, m: Int, k: Int, topK: Int): DataFrame =
    pqTopKWith(corpus, queries, idCol, vecCol,
      pqTrain(corpus, idCol, vecCol, m, k), topK)

  /** [[pqTopK]] over a supplied codebook — seeded ([[pqTrain]], the
    * oracle mode) or Lloyd-trained ([[pqTrainLloyd]], the quality mode).
    * Same ADC plan either way; only the centroid constants differ. */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, model: PqModel, topK: Int): DataFrame = {
    val enc = pqEncode(corpus, vecCol, model)
      .select(col(idCol).as("cand_id"), col("pq_codes"))
    val qtabs = org.apache.spark.sql.graft.PqExpressions
      .pqAdcTable(col(vecCol), model.centroids)
    val q = queries.select(col(idCol).as("query_id"), qtabs.as("qtab"))
    val adistU = org.apache.spark.sql.graft.PqExpressions
      .pqAdcSum(col("qtab"), col("pq_codes"))
    val scored = enc.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), adistU.as("adist_u"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_u"), col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK).drop("qtab")
  }
}
