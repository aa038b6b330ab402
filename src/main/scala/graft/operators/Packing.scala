package graft.operators

import graft.functions.{Scalars, TextAnalysis => TA}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining pipelines (beyond the reference):
  * concatenate the corpus in a deterministic order and split it into
  * fixed-size token windows ("chunks"), reporting for every document the
  * chunk/offset where it starts and the chunk where it ends — the
  * concat-and-chunk packing step that turns a document corpus into model
  * sequences.
  *
  * Determinism: the concatenation order is a salted content hash of the id
  * (ties broken by id), so the same corpus packs identically on any
  * cluster at any parallelism — no RNG, no partition-order dependence.
  *
  * Scale: a naive global running sum is a single-partition window. Instead
  * this is the classic two-pass distributed prefix sum:
  *   1. docs hash into `nBuckets` ordered buckets; a window PARTITIONED BY
  *      bucket computes the within-bucket running token count (each bucket
  *      sorts ~|corpus|/nBuckets rows — scale nBuckets with the cluster);
  *   2. per-bucket totals (nBuckets rows, tiny) collect to the driver,
  *      prefix-sum there, and broadcast back as each bucket's global
  *      offset.
  * The corpus itself shuffles once (into buckets) and nothing else moves. */
object Packing {

  /** Deterministic order key: salted 60-bit hash of the id. */
  private def ordKey(idCol: Column, salt: String): Column =
    Scalars.hash60(concat(lit(salt), lit(":"), idCol.cast("string")))

  /** Pack `df` into `budget`-token chunks. Returns one row per document:
    * (idCol, n_tokens, start_chunk, start_offset, end_chunk) — where the
    * document's tokens begin (chunk + offset within it) and the chunk its
    * last token lands in (== start_chunk when it fits; empty docs span
    * nothing and get end_chunk = start_chunk). */
  def concatChunks(df: DataFrame, idCol: String, textCol: String,
                   budget: Long, nBuckets: Int = 256,
                   salt: String = "graft"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val ord = ordKey(col(idCol), salt)
    packCore(df, idCol, TA.tokenCount(col(textCol)), budget, ord,
      ord % nBuckets)
  }

  /** Pack in an EXPLICIT precomputed total order — the composition hook
    * for [[graft.operators.Sampling.epochShuffle]] (pass its dense
    * `shuffle_pos`): CONTIGUOUS range buckets keep the effective
    * concatenation order identical to `orderCol`'s total order (unlike
    * [[concatChunks]]'s interleaved hash buckets, whose effective order
    * is (bucket, hash, id)), so "shuffle this epoch, then pack, then
    * shard" means exactly what it says. One count() sizes the buckets;
    * everything else is the same two-pass distributed prefix sum. */
  def concatChunksOrdered(df: DataFrame, idCol: String, textCol: String,
                          orderCol: String, budget: Long,
                          nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val n = df.count()
    val span = math.max(1L, (n + nBuckets - 1) / nBuckets)
    packCore(df, idCol, TA.tokenCount(col(textCol)), budget,
      col(orderCol), expr(s"$orderCol DIV $span"))
  }

  private def packCore(df: DataFrame, idCol: String, costExpr: Column,
                       budget: Long, ordExpr: Column,
                       bucketExpr: Column): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val base = df.select(col(idCol),
        costExpr.cast("long").as("n_tokens"), ordExpr.as("__ord"),
        bucketExpr.cast("long").as("__bucket"))

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__bucket"))
      .orderBy(col("__ord"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = base.withColumn("__prev_local",
      coalesce(sum(col("n_tokens")).over(w), lit(0L)))

    // Pass 2: per-bucket totals -> driver prefix sum -> broadcast offsets.
    // nBuckets rows, so the collect is O(nBuckets), not O(corpus).
    val spark = df.sparkSession
    val totals = base.groupBy(col("__bucket"))
      .agg(sum(col("n_tokens")).as("__total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft(0L)(_ + _._2).init
    import spark.implicits._
    val offsetDf = totals.map(_._1).zip(offsets).toSeq
      .toDF("__bucket", "__bucket_offset")

    val prev = col("__bucket_offset") + col("__prev_local")
    withLocal.join(broadcast(offsetDf), "__bucket")
      .select(col(idCol), col("n_tokens"),
        expr(s"(${prevSql}) DIV $budget").as("start_chunk"),
        (prev % budget).as("start_offset"),
        greatest(expr(s"(${prevSql}) DIV $budget"),
          expr(s"(${prevSql} + n_tokens - 1) DIV $budget")).as("end_chunk"))
  }

  // SQL text for the global start position (used with expr() so chunk ids
  // come from exact integer DIV, not floating-point division).
  private val prevSql = "__bucket_offset + __prev_local"

  /** Token-budget sharding: assign each document WHOLLY to the shard where
    * its packed start position lands (documents never split across shards,
    * unlike chunks) — the "write ~N-token training shards" step. Shard
    * sizes are budget ± one document tail; assignment is deterministic at
    * any parallelism (same salted-hash order as [[concatChunks]]). */
  def shardByTokens(df: DataFrame, idCol: String, textCol: String,
                    budget: Long, nBuckets: Int = 256,
                    salt: String = "graft"): DataFrame =
    concatChunks(df, idCol, textCol, budget, nBuckets, salt)
      .select(col(idCol), col("n_tokens"), col("start_chunk").as("shard"))

  /** [[shardByTokens]] over an EXPLICIT per-document COST — the
    * interleaved-multimodal generalization: a vision-language
    * document's context cost is its text tokens PLUS a fixed
    * per-image patch count (576 for a 336² ViT-L/14, the LLaVA
    * convention — the caller sums whatever modality costs apply into
    * `costCol`), and loss-weighted or modality-weighted budgets are
    * the same shape. Same deterministic salted-hash order and
    * two-pass distributed prefix sum as [[shardByTokens]]; documents
    * assign WHOLLY to the shard where their packed start lands.
    * Returns (idCol, cost, shard). `costCol` must be non-negative. */
  def shardByCost(df: DataFrame, idCol: String, costCol: String,
                  budget: Long, nBuckets: Int = 256,
                  salt: String = "graft"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val ord = ordKey(col(idCol), salt)
    // a negative (or null) cost silently corrupts the prefix-sum shard
    // assignment (shard indices can regress) — fail loudly like the
    // sibling require()s; assert_true rides the cost projection, so
    // the clean-cost path pays no extra pass (ADVICE r17)
    val cost = when(
      assert_true(col(costCol) >= 0, concat(
        lit(s"shardByCost: negative or null $costCol for "),
        coalesce(col(idCol).cast("string"), lit("null")))).isNull,
      col(costCol))
    packCore(df, idCol, cost, budget, ord, ord % nBuckets)
      .select(col(idCol), col("n_tokens").as("cost"),
        col("start_chunk").as("shard"))
  }

  /** LENGTH-BUCKET PADDING report — the training-efficiency card
    * behind "what bucket boundaries should the loader pad to?":
    * given ascending candidate boundaries, each document lands in the
    * smallest bucket that fits it (documents longer than the largest
    * boundary land in bucket −1, reported as TRUNCATED tokens rather
    * than padding). Per bucket: document count, real token sum, the
    * padded capacity (boundary · n), the padding waste and its
    * fraction (6 dp; truncation tokens for the overflow row). A
    * sorted-batching loader reads this card to choose boundaries that
    * cap `waste_frac`. One codegen CASE projection + one keyed agg —
    * no shuffle beyond |buckets|+1 groups. */
  /** Ascending distinct positive boundaries — shared contract of
    * [[paddingWaste]] and [[bucketBatches]]. */
  private def requireBoundaries(buckets: Seq[Long]): Unit = {
    require(buckets.nonEmpty, "need at least one bucket boundary")
    require(buckets == buckets.sorted && buckets.distinct == buckets,
      s"boundaries must be ascending and distinct: $buckets")
    require(buckets.head > 0, "boundaries must be positive")
  }

  /** Smallest boundary that fits `len` (−1 = overflow), with the
    * loud negative/null-length guard riding the projection (a null
    * length would otherwise fall through every `<=` into the
    * overflow bucket silently, and a negative one would inflate
    * waste past capacity — the [[shardByCost]] guard class). */
  private def smallestBucket(lenCol: String, buckets: Seq[Long])
  : Column = {
    val len = when(
      assert_true(col(lenCol) >= 0,
        // the message itself must survive a NULL length (concat with
        // a null cast would null the whole error string)
        concat(lit(s"negative or null $lenCol: "),
          coalesce(col(lenCol).cast("string"), lit("null")))).isNull,
      col(lenCol).cast("long"))
    buckets.reverse.foldLeft(lit(-1L): Column) { (els, b) =>
      when(len <= b, lit(b)).otherwise(els)
    }
  }

  def paddingWaste(df: DataFrame, lenCol: String, buckets: Seq[Long])
  : DataFrame = {
    requireBoundaries(buckets)
    val maxB = buckets.last
    df.select(smallestBucket(lenCol, buckets).as("bucket"),
        col(lenCol).cast("long").as("__len"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__len")).as("sum_len"))
      .withColumn("capacity",
        when(col("bucket") === -1L, col("n_docs") * maxB)
          .otherwise(col("bucket") * col("n_docs")))
      .withColumn("waste",
        when(col("bucket") === -1L, lit(0L))
          .otherwise(col("capacity") - col("sum_len")))
      .withColumn("truncated",
        when(col("bucket") === -1L, col("sum_len") - col("capacity"))
          .otherwise(lit(0L)))
      .withColumn("waste_frac",
        round(col("waste").cast("double") /
          greatest(col("capacity"), lit(1L)), 6))
  }

  /** SORTED-BATCHING assignment — the loader step [[paddingWaste]]
    * prices: each document lands in the smallest length bucket that
    * fits (−1 = overflow past the largest boundary), documents order
    * WITHIN their bucket by the salted id hash (deterministic at any
    * parallelism, no RNG — the [[graft.operators.Sampling
    * .epochShuffle]] idiom, so batches are content-shuffled but
    * reproducible), and consecutive runs of `batchSize` become
    * batches. Returns (idCol, bucket, batch_idx, pos_in_batch).
    *
    * Scale shape — the [[packCore]] two-pass distributed prefix sum,
    * NOT a per-length-bucket window (a loader config has ~4
    * boundaries, so a bucket-keyed window would sort ~25% of a
    * 100 TB corpus in ONE task):
    *   1. each length bucket RANGE-splits into `nSub` ordered
    *      sub-buckets by the top bits of the 60-bit salted hash —
    *      sub is a monotone function of the hash, so concatenating
    *      sub-buckets in ascending order IS the bucket's (hash, id)
    *      order, and the rank window partitions by (bucket, sub):
    *      ~|corpus|/(|buckets|·nSub) rows per task;
    *   2. the (bucket, sub) counts (≤ |buckets|·nSub rows, tiny)
    *      collect to the driver, prefix-sum per bucket in sub order,
    *      and broadcast back as each sub-bucket's rank offset.
    * batch_idx/pos_in_batch are the same div/mod over the global
    * within-bucket rank — BIT-IDENTICAL to the single-window
    * formulation at any nSub and any parallelism (spec-pinned). The
    * corpus shuffles once (into (bucket, sub)); nothing else moves. */
  def bucketBatches(df: DataFrame, idCol: String, lenCol: String,
                    buckets: Seq[Long], batchSize: Int,
                    salt: String = "graft", nSub: Int = 256): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    requireBoundaries(buckets)
    require(nSub > 0 && Integer.bitCount(nSub) == 1,
      s"nSub must be a positive power of two, got $nSub")
    val shift = 60 - (31 - Integer.numberOfLeadingZeros(nSub))
    // a null id has no deterministic rank — and its null (bucket,
    // sub) key would silently VANISH at the offsets equi-join rather
    // than misplace: fail loudly instead (the shardByCost guard
    // class), riding the hash projection
    val id = when(
      assert_true(col(idCol).isNotNull,
        lit(s"bucketBatches: null $idCol — every document needs a " +
          "deterministic rank")).isNull,
      col(idCol))
    val h = graft.functions.Scalars.hash60(
      concat(lit(salt), lit(":"), id.cast("string")))
    // the rank window and the counts pass each scan the input once —
    // packCore's documented two-scan shape (measured: checkpointing
    // the projection does NOT win when the input is a cheap pruned
    // scan; a caller with an EXPENSIVE derived lineage should
    // Checkpoints.eager it before calling, as treePaths does)
    val base = df.select(col(idCol),
      smallestBucket(lenCol, buckets).as("bucket"), h.as("__h"),
      shiftright(h, shift).as("__sub"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("__sub"))
      .orderBy(col("__h"), col(idCol).cast("string"))
    val local = base.withColumn("__rl",
      row_number().over(w).cast("long") - 1)
    // pass 2: tiny (bucket, sub) counts → driver per-bucket prefix
    // sum in sub order → broadcast offsets (the packCore idiom)
    val counts = base.groupBy(col("bucket"), col("__sub"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val offs = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long)]
    var curBucket = Long.MinValue
    var run = 0L
    counts.foreach { case (b, sub, n) =>
      if (b != curBucket) { curBucket = b; run = 0L }
      offs += ((b, sub, run))
      run += n
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = offs.toSeq.toDF("bucket", "__sub", "__off")
    local.join(broadcast(offsetDf), Seq("bucket", "__sub"))
      .select(col(idCol), col("bucket"),
        expr(s"(__off + __rl) DIV $batchSize").as("batch_idx"),
        ((col("__off") + col("__rl")) % batchSize).as("pos_in_batch"))
  }

  /** Write the corpus as token-budget shards: parquet partitioned by
    * `shard=`, one directory per ≈`budget`-token shard. The corpus
    * shuffles once into shard key (so each shard writes contiguously),
    * rows carry their full original schema. */
  def writeShards(df: DataFrame, idCol: String, textCol: String,
                  budget: Long, outDir: String, nBuckets: Int = 256,
                  salt: String = "graft"): Unit =
    df.join(shardByTokens(df, idCol, textCol, budget, nBuckets, salt)
        .select(col(idCol), col("shard")), idCol)
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** SHARD MANIFEST — the reproducibility record ("data card" numbers)
    * a training run pins next to its shards: per shard, document
    * count, token sum, id range, and an ORDER-FREE content fingerprint
    * — the DECIMAL(38,0) sum of per-document 60-bit text hashes.
    * Commutative addition means ANY partitioning, write order, or
    * executor count yields the identical manifest, while one changed,
    * dropped, or duplicated document changes it — the property that
    * lets two clusters attest they trained on the same bytes without
    * shipping them. The sum rides exactly in DECIMAL(38,0) and
    * reduces mod the Mersenne prime 2^61−1 so the published
    * fingerprint is a plain BIGINT every storage system round-trips
    * losslessly (an unreduced 38-digit decimal degrades to a float in
    * half the tools that read the manifest). One keyed agg over the
    * assignment join; the manifest is shard-count-sized. */
  val FingerprintP: Long = 2305843009213693951L // 2^61 − 1

  def shardManifest(df: DataFrame, idCol: String, textCol: String,
                    budget: Long, nBuckets: Int = 256,
                    salt: String = "graft"): DataFrame =
    df.join(shardByTokens(df, idCol, textCol, budget, nBuckets, salt)
        .select(col(idCol), col("n_tokens"), col("shard")), idCol)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"),
        (sum(graft.functions.Scalars.hash60(col(textCol))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(new java.math.BigDecimal(FingerprintP)))
          .cast("long").as("fingerprint"))

  /** PARAGRAPH-boundary chunking — the RAG "semantic splitter" tier
    * between [[slidingChunks]]' fixed windows and whole documents:
    * greedy-fill paragraphs into ≤`budget`-token chunks WITHOUT ever
    * splitting a paragraph (the retrieval unit stays coherent) — a
    * chunk closes when the next paragraph would overflow it, and a
    * single paragraph larger than the budget owns its own chunk.
    * Whitespace-only paragraphs drop ([[Dedup.paragraphDedup]]'s
    * convention). The greedy fold runs INSIDE one row as an
    * `aggregate` HOF over the per-document paragraph array — arrays
    * are document-sized, there is no flatMapGroups and no shuffle
    * before the rebuild's keyed agg. Emits one row per chunk:
    * (idCol, chunk_idx, chunk, n_paras, n_tokens). */
  def paragraphChunks(df: DataFrame, idCol: String, textCol: String,
                      budget: Long, sep: String = "\n"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val rawParas = split(col(textCol),
      java.util.regex.Pattern.quote(sep), -1)
    val paras = filter(rawParas, p => length(trim(p)) > 0)
    val st0 = struct(lit(0).cast("int").as("c"), lit(0L).as("t"),
      array().cast("array<int>").as("a"))
    val folded = aggregate(col("__tc"), st0, (st, t) => {
      val roll = st("t") > lit(0L) && st("t") + t > lit(budget)
      val nc = when(roll, st("c") + 1).otherwise(st("c")).cast("int")
      struct(nc.as("c"),
        when(roll, t).otherwise(st("t") + t).as("t"),
        concat(st("a"), array(nc)).as("a"))
    })
    df.select(col(idCol), paras.as("__paras"))
      .withColumn("__tc",
        transform(col("__paras"), p => size(TA.tokens(p)).cast("long")))
      .withColumn("__asg", folded("a"))
      .select(col(idCol), posexplode(
        arrays_zip(col("__paras"), col("__tc"), col("__asg")))
        .as(Seq("__pi", "__z")))
      .select(col(idCol), col("__pi"),
        col("__z")("__paras").as("__p"),
        col("__z")("__tc").as("__t"),
        col("__z")("__asg").cast("long").as("chunk_idx"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(concat_ws(sep, array_sort(collect_list(
          struct(col("__pi"), col("__p")))).getField("__p"))
          .as("chunk"),
        count(lit(1)).as("n_paras"),
        sum(col("__t")).as("n_tokens"))
  }

  /** FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022 "Efficient
    * Training of Language Models to Fill in the Middle"): a
    * hash-selected `rate` of documents re-serialize as
    * `<|fim_pre|>prefix<|fim_suf|>suffix<|fim_mid|>middle` — PSM mode,
    * the paper's recommended joint objective: the model learns to emit
    * the middle given both sides, while the remaining documents pass
    * through as plain LM data. Split points are two independent
    * salted-hash offsets of the id mod (len+1), ordered — no RNG, the
    * same document transforms identically at any parallelism
    * (document-level / "context-level" FIM, character-granular; run
    * BEFORE packing so window boundaries see the transformed
    * lengths). Adds `fim` (boolean) and `text_fim`; null text passes
    * through untransformed. Pure projection — zero shuffle. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   rate: Double, salt: String = "graft"): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate $rate not in [0,1]")
    val n = length(col(textCol)).cast("long")
    def pt(tag: String) =
      (graft.functions.Scalars.hash60(concat(lit(s"$salt:$tag:"),
        col(idCol).cast("string"))) % (n + 1)).cast("int")
    val lo = least(pt("fim1"), pt("fim2"))
    val hi = greatest(pt("fim1"), pt("fim2"))
    val sel = Sampling.bucket(col(idCol), s"$salt:fim") <
      lit(math.round(rate * 10000))
    df.withColumn("fim", col(textCol).isNotNull && sel)
      .withColumn("text_fim",
        when(col("fim"),
          concat(lit("<|fim_pre|>"),
            col(textCol).substr(lit(1), lo),
            lit("<|fim_suf|>"),
            col(textCol).substr(hi + 1, n.cast("int") - hi),
            lit("<|fim_mid|>"),
            col(textCol).substr(lo + 1, hi - lo)))
          .otherwise(col(textCol)))
  }

  /** Per-document sliding-window chunking (the RAG / long-context prep
    * twin of [[concatChunks]]): each document's token stream is split
    * into windows of `size` tokens advancing by `stride` (overlap =
    * size − stride; stride = size → disjoint chunks). Emits one row per
    * chunk: (idCol, chunk_idx, chunk, n_tokens); the final window may be
    * short; zero-token documents emit nothing.
    *
    * Scale: tokenize → sequence → explode → slice is pure per-row
    * generator work — whole-stage codegen, zero shuffle, linear in
    * corpus tokens × (size/stride) duplication factor. The duplication
    * is inherent to overlap (each token appears in ≤ ⌈size/stride⌉
    * chunks), so the output, not the operator, is what costs at 100 TB —
    * pick stride accordingly. */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0,
      s"chunkSize/stride must be positive, got $chunkSize/$stride")
    df.select(col(idCol), TA.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__n") - 1, lit(stride))).as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1,
          lit(chunkSize))).as("chunk"),
        least(lit(chunkSize), col("__n") - col("__start"))
          .cast("long").as("n_tokens"))
  }

  /** MULTI-EXAMPLE sample packing with attention boundaries — the SFT
    * trainer's window builder: many short examples pack into fixed
    * `capacity`-token context windows WITHOUT splitting any example
    * (unlike [[concatChunks]], which cuts mid-document), and each
    * window's per-example [start_off, end_off) boundaries feed the
    * block-diagonal attention mask that stops examples attending to
    * each other. Algorithm: first-fit-decreasing per group — items
    * sort by (len desc, id) and each takes the first window with
    * room, opening a new one otherwise ("Fewer Truncations Improve
    * Language Modeling", Ding et al. 2024, packs SFT corpora exactly
    * this way). An item longer than `capacity` opens its own window
    * (which then never fits anything else) — flagged by
    * `len > capacity`, never silently truncated.
    *
    * `groupCol` is the parallel unit (a shard/date key): packing is
    * inherently sequential within a window set, so each group packs
    * independently and deterministically — same input, same windows
    * at any cluster parallelism. Groups must be bounded (≤ ~1M items:
    * one shard), which is also what loaders want — windows that
    * stream shard-by-shard. Ties in the sort break on the STRING form
    * of the id (engine-independent; ids must be unique).
    *
    * Output: one row per example — (groupCol, idCol, len, bin, slot,
    * start_off, end_off): window index within the group, position in
    * the window, and the boundary offsets. Scale shape: one shuffle
    * into groups (O(group) executor memory in the packing pass), one
    * keyed join restoring the caller's id/group dtypes; rows are
    * id+len metadata, never the text itself.
    *
    * Rows with a NULL `lenCol` are DROPPED — a null length has no
    * defined packing position (ADVICE r16: this is deliberate and the
    * caller must know it). An example whose tokenizer pass failed
    * should be repaired or excluded upstream; if silent loss is
    * unacceptable, assert `df.filter(col(lenCol).isNull).isEmpty`
    * before calling. */
  def packExamples(df: DataFrame, idCol: String, lenCol: String,
                   groupCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = df.sparkSession
    import spark.implicits._
    val asg = df
      .filter(col(lenCol).isNotNull)
      .select(col(groupCol).cast("string"), col(idCol).cast("string"),
        col(lenCol).cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val sorted = it.map { case (_, id, len) => (id, len) }.toArray
          .sortBy { case (id, len) => (len, id) }(
            Ordering.Tuple2(Ordering[Long].reverse, Ordering[String]))
        val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
        val fill = scala.collection.mutable.ArrayBuffer.empty[Long]
        val cnt = scala.collection.mutable.ArrayBuffer.empty[Long]
        sorted.iterator.map { case (id, len) =>
          var b = 0
          while (b < rem.length && rem(b) < len) b += 1
          if (b == rem.length) { rem += capacity; fill += 0L; cnt += 0L }
          rem(b) -= len
          val out = (g, id, len, b.toLong, cnt(b), fill(b), fill(b) + len)
          cnt(b) += 1
          fill(b) += len
          out
        }
      }
      .toDF("__g", "__id", "len", "bin", "slot", "start_off", "end_off")
    df.select(col(groupCol), col(idCol))
      .join(asg, col(groupCol).cast("string") === col("__g") &&
        col(idCol).cast("string") === col("__id"))
      .drop("__g", "__id")
  }

  private def manifestSpec(spark: org.apache.spark.sql.SparkSession,
                           name: String)
  : graft.sources.IncrementalIndex.Spec = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad manifest name: $name")
    graft.sources.IncrementalIndex.Spec(
      graft.GraftSession.appDir(spark, "manifest_idx"),
      s"${name}_manifest", None)
  }

  /** Ingest ONE batch into the running shard manifest `name` — the
    * continuous twin of [[shardManifest]]: the batch aggregates to a
    * PARTIAL manifest (one row per touched shard) appended
    * tag-idempotently ([[graft.sources.IncrementalIndex]] protocol;
    * at-least-once replays no-op). Partials MERGE EXACTLY because
    * every manifest column is commutative — counts and token sums
    * add, id ranges min/max, and the fingerprint ADDS mod 2^61−1,
    * which is the design reason [[shardManifest]]'s fingerprint is an
    * additive hash sum and not an ordered digest. `shardCol` is the
    * caller's shard key (a time bucket, a layout key — whatever the
    * stream partitions by; the batch-side prefix-sum assignment is
    * not streamable and not needed here). O(batch) per call; the
    * accumulated manifest is never read on the ingest path —
    * [[loadManifest]] folds it at read time. */
  /** One manifest over an EXPLICIT shard assignment — the pure
    * aggregation [[ingestManifest]] appends as partials and
    * [[shardManifest]] derives over its own token-budget assignment:
    * (shard, n_docs, n_tokens, min_id, max_id, fingerprint), with the
    * same commutative mod-2^61−1 content fingerprint. One keyed agg;
    * the output is shard-count-sized. */
  def manifestOf(df: DataFrame, shardCol: String, idCol: String,
                 textCol: String): DataFrame =
    df.groupBy(col(shardCol).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextAnalysis.tokenCount(col(textCol))
          .cast("long")).as("n_tokens"),
        min(col(idCol).cast("long")).as("min_id"),
        max(col(idCol).cast("long")).as("max_id"),
        (sum(graft.functions.Scalars.hash60(col(textCol))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(new java.math.BigDecimal(FingerprintP)))
          .cast("long").as("fingerprint"))

  def ingestManifest(spark: org.apache.spark.sql.SparkSession,
                     batch: DataFrame, shardCol: String, idCol: String,
                     textCol: String, name: String,
                     batchTag: String): DataFrame = {
    val partial = Checkpoints.eager(
      manifestOf(batch, shardCol, idCol, textCol))
    graft.sources.IncrementalIndex.append(spark,
      manifestSpec(spark, name), partial, batchTag)
    partial
  }

  /** MANIFEST DIFF — the consumer operation of the attestation story:
    * compare TWO manifests (one cluster at two times, or two clusters
    * claiming the same corpus) and answer per shard whether they hold
    * the SAME BYTES. One full-outer join on the shard key —
    * manifest-sized (shards, not documents) — with a severity-ordered
    * verdict in `status`:
    *
    *   - `only_left` / `only_right`: a shard one side lacks entirely;
    *   - `count_mismatch`: document counts differ;
    *   - `tokens_mismatch`: counts agree, token sums differ;
    *   - `fingerprint_mismatch`: counts and tokens agree but the
    *     content fingerprint differs — same shape, DIFFERENT BYTES
    *     (the case that silently poisons a resumed run);
    *   - `range_mismatch`: contents attest identical but the id range
    *     moved (a re-keyed corpus);
    *   - `match`: same bytes, same keys.
    *
    * Both sides' values ride along (`_a`/`_b` suffixes) so the report
    * is actionable without a second pass. Null-safe compares
    * throughout — a null fingerprint never reads as equal-by-luck. */
  def manifestDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = Seq("n_docs", "n_tokens", "min_id", "max_id",
      "fingerprint")
    val la = cols.foldLeft(a)((d, c) => d.withColumnRenamed(c, c + "_a"))
    val lb = cols.foldLeft(b)((d, c) => d.withColumnRenamed(c, c + "_b"))
    def same(c: String) = col(c + "_a") <=> col(c + "_b")
    la.join(lb, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("n_docs_b").isNull, "only_left")
          .when(col("n_docs_a").isNull, "only_right")
          .when(!same("n_docs"), "count_mismatch")
          .when(!same("n_tokens"), "tokens_mismatch")
          .when(!same("fingerprint"), "fingerprint_mismatch")
          .when(!same("min_id") || !same("max_id"), "range_mismatch")
          .otherwise("match"))
  }

  /** The accumulated manifest: partials folded per shard — sums add,
    * ranges min/max, fingerprints add mod 2^61−1. Empty (not an
    * error) before the first append. */
  def loadManifest(spark: org.apache.spark.sql.SparkSession,
                   name: String): DataFrame = {
    graft.sources.IncrementalIndex.loadOrEmpty(spark,
        manifestSpec(spark, name), "shard",
        "shard bigint, n_docs bigint, n_tokens bigint, " +
          "min_id bigint, max_id bigint, fingerprint bigint")
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        min(col("min_id")).as("min_id"),
        max(col("max_id")).as("max_id"),
        (sum(col("fingerprint")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(new java.math.BigDecimal(FingerprintP)))
          .cast("long").as("fingerprint"))
  }

  def dropManifest(spark: org.apache.spark.sql.SparkSession,
                   name: String): Unit =
    graft.sources.IncrementalIndex.drop(manifestSpec(spark, name))

  /** PACKING-EFFICIENCY report over a [[packExamples]] assignment —
    * the padding-waste numbers a trainer watches before burning
    * compute: per group, window count, item count, filled tokens,
    * window capacity total, oversize-item count, and the 6dp
    * `fill_rate` = filled / (windows·capacity) — 1 − fill_rate IS the
    * padding fraction the loader pays. Oversize items (len >
    * capacity) are counted separately: each owns a window whose
    * overflow is real content, not padding, so a report dominated by
    * oversize items reads > 1 by design. One keyed agg over the
    * metadata-only assignment rows. */
  def packingReport(asg: DataFrame, groupCol: String,
                    capacity: Long): DataFrame =
    asg.groupBy(col(groupCol))
      .agg((max(col("bin")) + 1).as("n_windows"),
        count(lit(1)).as("n_items"),
        sum(col("len")).as("sum_len"),
        sum(when(col("len") > capacity, 1L).otherwise(0L))
          .as("n_oversize"))
      .withColumn("capacity_total", col("n_windows") * capacity)
      .withColumn("fill_rate",
        round(col("sum_len").cast("double") / col("capacity_total"), 6))

  /** Per-chunk occupancy view over a packed corpus: how many documents
    * touch each chunk and how many of its `budget` token slots are filled
    * (every chunk except the last must be exactly full — the spec gate). */
  def chunkFill(packed: DataFrame, budget: Long): DataFrame = {
    val startPos = col("start_chunk") * budget + col("start_offset")
    val endPos = startPos + col("n_tokens")  // exclusive
    packed.filter(col("n_tokens") > 0)
      .select(col("n_tokens"), startPos.as("s"), endPos.as("e"),
        explode(sequence(col("start_chunk"), col("end_chunk"))).as("chunk"))
      .select(col("chunk"),
        (least(col("e"), (col("chunk") + 1) * budget) -
          greatest(col("s"), col("chunk") * budget)).as("filled"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_docs"), sum(col("filled")).as("filled"))
  }
}
