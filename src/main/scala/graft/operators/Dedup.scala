package graft.operators

import graft.functions.{TextAnalysis => TA, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Reference scope: ingest-time exact-PK dedup (`DedupConfig.java:25`,
  * `pinot-segment-local/.../dedup/`). Extended here with the near-dup family
  * a 100 TB corpus pipeline needs: MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine.
  *
  * Scale design: every method is *blocked* — candidate pairs come from an
  * equi-join on a bucket key (LSH band, SimHash value, blocking key), never
  * from a cross join. The expensive verification (Jaccard, cosine) runs only
  * within buckets. That keeps the shuffle keyed and linear-ish; the cross
  * join brute-force paths exist only as small-data baselines/oracles.
  */
object Dedup {

  private val Owner = "dedup"

  /** Per-owner cache cap (test hook). Persisted outputs (signatures,
    * candidate pairs) live in [[GraftCache]] — ONE budget shared with
    * JsonIndex/Similarity, so a long-lived session's operator caches
    * cannot accumulate unboundedly in sum (round-6 degradation fix).
    * Eviction releases persisted AND checkpoint-backed state; an evicted
    * persisted frame stays valid (recomputes), a checkpoint-backed one
    * (clusters labels) rebuilds on the next cached() miss. */
  private[graft] def cacheCapacity: Int = GraftCache.ownerCapacity(Owner)
  private[graft] def cacheCapacity_=(n: Int): Unit =
    GraftCache.setOwnerCapacity(Owner, n)

  private[graft] def cacheKeys: Set[(Int, String)] =
    GraftCache.keys(Owner).collect { case k: (Int, String) @unchecked => k }

  /** Drop every cached table (releasing each). */
  def cacheClear(): Unit = GraftCache.clear(Owner)

  /** Fetch-or-build keyed by (session, op tag, corpus plan). */
  private def cached(df: DataFrame, tag: String)(build: => DataFrame)
  : DataFrame = {
    val key = (System.identityHashCode(df.sparkSession),
      s"$tag:${df.queryExecution.analyzed.semanticHash()}")
    GraftCache.getOrBuild(Owner, key) {
      val built = build
      Checkpoints.pin(built) // cache-owned blocks: sweep() must skip them
      built
    }(Checkpoints.releaseFrame)
  }

  /** Dedup canonicalization (the C4/RefinedWeb preprocessing before
    * exact hashing): lowercase, replace every char outside [a-z0-9\s]
    * with a space, collapse whitespace runs, trim. Catches the
    * punctuation/case/spacing variants exact dedup would otherwise
    * miss. Semantics are the regexp chain
    * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]",
    * " "), "\\s+", " "))` — which the DuckDB oracle replays bit-for-bit —
    * but the two regex passes + trim execute as ONE native byte scan
    * ([[org.apache.spark.sql.graft.TextKernels.canonTail]], byte-parity
    * fuzz-spec'd against the regexp formulation; Spark's `lower` is kept
    * for Unicode case-mapping parity). The fused kernel is ~4× less
    * char-work on the operator's dominant cost (`q_text_canon` is linear
    * in chars on the 10× scale curve). ASCII-scoped by design (non-ASCII
    * letters strip — the ASCII-web-corpus convention; widen the class
    * for multilingual corpora). */
  def canonicalize(text: Column): Column =
    org.apache.spark.sql.graft.TextHashExprs.canonTail(lower(text))

  /** Plan MinHash-LSH knobs for a target Jaccard threshold: the
    * candidate S-curve is P(s) = 1 − (1 − s^r)^b, which crosses steeply
    * near (1/b)^(1/r). Among plans with b·r ≤ maxHashes (r ≥ 2 so
    * single-hash bands don't degenerate to per-hash equality), pick the
    * (bands, rowsPerBand) whose crossover lies closest to `target` —
    * the driver-side knob-setting step for [[minHashPairs]] /
    * [[incrementalMinHash]]. */
  def lshPlan(targetJaccard: Double, maxHashes: Int): (Int, Int) = {
    require(targetJaccard > 0 && targetJaccard < 1,
      s"target $targetJaccard not in (0,1)")
    require(maxHashes >= 4, s"budget $maxHashes too small")
    val plans = for {
      r <- 2 to maxHashes
      b <- 1 to maxHashes / r
    } yield (b, r)
    plans.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - targetJaccard)
    }
  }

  /** P(pair becomes a candidate | Jaccard s) under (bands, rowsPerBand). */
  def lshCandidateProbability(s: Double, bands: Int, rowsPerBand: Int)
  : Double = 1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Exact dedup: canonical representative (min id) per identical content.
    * Hash-groupBy on a 128-bit content hash — one shuffle, no skew beyond
    * true duplicate mass. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping whole rows (first by id within identical text).
    * Keyed on the text itself, not a hash of it (measured, round 8): the
    * text rides the shuffle as a value either way, so a hashed key only
    * ADDS bytes, and it costs two full xxhash64 passes over every
    * document — while raw-key sort comparisons short-circuit on the
    * first differing byte for distinct texts (the common case; only true
    * duplicates compare full-length). The A/B benched ~25% slower with
    * the hashed key at both 1× and 10×. */
  def exactRows(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signatures (k-shingles, `bands`×`rowsPerBand` hashes), plus an
    * LSH band key per band: docs sharing any band key are candidates. */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
                        k: Int, bands: Int, rowsPerBand: Int): DataFrame =
    cached(df, s"minhashSig:$textCol:$idCol:$k:$bands:$rowsPerBand") {
      // two-stage with a materialization barrier: the md5 shingle pipeline
      // runs once per doc; the per-seed affine mins then read the cached
      // base array (Catalyst would otherwise inline the base into every
      // seed expression — seeds× re-hash of the whole corpus)
      val withBase = df.select(col(idCol),
        TA.shingleBase(col(textCol), k).as("base")).cache()
      val withSig = withBase.select(col(idCol),
        TA.minHashFromBase(col("base"), bands * rowsPerBand).as("sig"))
      // band key b = hash of the band's slice of the signature
      val bandCols = (0 until bands).map(b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",",
            transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
              x => x.cast("string")))).as("key"))
          .as(s"band_$b"))
      // signatures (id + a few longs per row) persist LRU-scoped; the much
      // larger shingle-base intermediate releases eagerly
      val out = withSig.select(col(idCol) +: col("sig") +: bandCols: _*)
        .persist()
      out.count()
      withBase.unpersist(false)
      out
    }

  /** Candidate near-dup pairs via MinHash LSH: equi-join on (band, bandKey).
    * Returns (id_a < id_b) pairs with their full-signature agreement ratio
    * (estimate of Jaccard). */
  def minHashPairs(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 3, bands: Int = 4, rowsPerBand: Int = 2)
  : DataFrame = cached(df, s"minhashPairs:$textCol:$idCol:$k:$bands:$rowsPerBand") {
    // minHashSignatures is persisted (LRU-scoped): the materialization
    // barrier keeps Catalyst from collapsing the shingle→minhash projection
    // into BOTH join branches — the whole interpreted-HOF hash pipeline
    // would re-run per candidate pair.
    val sigs = minHashSignatures(df, textCol, idCol, k, bands, rowsPerBand)
    val exploded = sigs.select(col(idCol), col("sig"),
      explode(array((0 until bands).map(b => col(s"band_$b")): _*))
        .as("band"))
    val a = exploded.select(col(idCol).as("id_a"), col("sig").as("sig_a"),
      col("band"))
    val b = exploded.select(col(idCol).as("id_b"), col("sig").as("sig_b"),
      col("band"))
    val pairs = a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), v => v)).cast("double") /
          lit(bands * rowsPerBand)).as("est_jaccard"))
      .distinct()
    // pairs << signatures (near-dup fraction of the corpus); LRU-scoped so
    // clusters()/downstream consumers don't re-run the band join, and
    // eviction releases the persist
    val out = pairs.persist()
    out.count()
    out
  }

  /** SimHash near-dup candidate pairs: identical `nBits`-bit SimHash.
    * (The classic scale-out uses rotated tables for distance ≤ d; equality
    * blocking is the degenerate d=0 table and keeps the oracle exact.) */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
                   nBits: Int = 16): DataFrame =
    cached(df, s"simhashPairs:$textCol:$idCol:$nBits") {
      val h = simHashes(df, textCol, idCol, nBits) // already persisted
      val pairs = h.as("a").join(h.as("b"),
          col("a.simhash") === col("b.simhash") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          col("a.simhash").as("simhash"))
      // pairs << signatures: both LRU-scoped (the signature entry is id +
      // one long per row; eviction releases it)
      val out = pairs.persist()
      out.count()
      out
    }

  /** SimHash near-dups within Hamming distance `maxDist` — the rotated-
    * table generalization of [[simHashPairs]]: the nBits hash splits into
    * maxDist+1 chunks, and by pigeonhole any pair within maxDist agrees
    * EXACTLY on at least one chunk, so blocking on (chunk index, chunk
    * value) has perfect recall. Candidates verify with one bit_count(xor).
    * Scale: an equi-join on the chunk key — |candidates| ≈
    * (maxDist+1)·Σ|bucket|², never an unblocked cross join. */
  /** (chunk index, right-shift, mask) per pigeonhole chunk. Scala shifts
    * are mod 64: `1L << 64` wraps to 1, so a full-width chunk (maxDist=0
    * with nBits=64) needs the explicit all-ones mask — otherwise every
    * blocking key collapses to 0 and the equi-join silently degenerates
    * into an all-pairs cross join. */
  private[graft] def chunkSpecs(nBits: Int, maxDist: Int)
  : Seq[(Int, Int, Long)] = {
    val chunks = maxDist + 1
    val base = nBits / chunks
    (0 until chunks).map { c =>
      val width = if (c == chunks - 1) nBits - c * base else base
      val mask = if (width >= 64) -1L else (1L << width) - 1
      (c, c * base, mask)
    }
  }

  def simHashPairsWithin(df: DataFrame, textCol: String, idCol: String,
                         nBits: Int, maxDist: Int): DataFrame =
    cached(df, s"simhashWithin:$textCol:$idCol:$nBits:$maxDist") {
    val h = simHashes(df, textCol, idCol, nBits) // already persisted
    val pairs = hammingPairsWithin(h, "simhash", idCol, nBits, maxDist)
    // pairs << signatures: both LRU-scoped (the signature entry is id +
    // one long per row; eviction releases it)
    val out = pairs.persist()
    out.count()
    out
  }

  /** All pairs of `sigs` rows whose `hashCol` longs are within Hamming
    * distance `maxDist` — pigeonhole chunk blocking with PERFECT recall
    * (maxDist+1 chunks: any pair within maxDist agrees exactly on ≥ 1
    * chunk), verification on the exact popcount. The generic engine
    * behind [[simHashPairsWithin]]; any 64-bit signature column works —
    * text SimHash, perceptual image hashes
    * ([[Multimodal.imageHash]]), etc. */
  def hammingPairsWithin(sigs: DataFrame, hashCol: String, idCol: String,
                         nBits: Int, maxDist: Int): DataFrame = {
    // chunk c covers bits [c*base, (c+1)*base), the last chunk also takes
    // the nBits % chunks remainder
    val keyed = sigs.select(col(idCol), col(hashCol),
      explode(array(chunkSpecs(nBits, maxDist).map { case (c, shift, mask) =>
        struct(lit(c).as("chunk"),
          shiftright(col(hashCol), shift).bitwiseAND(mask).as("key"))
      }: _*)).as("b"))
    val a = keyed.select(col(idCol).as("id_a"), col(hashCol).as("h_a"),
      col("b"))
    val bb = keyed.select(col(idCol).as("id_b"), col(hashCol).as("h_b"),
      col("b"))
    a.join(bb, Seq("b")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TA.simHashDistance(col("h_a"), col("h_b")).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Staged SimHash computation: token-hash arrays materialize once, the
    * nBits bit-votes read the cached column. The returned signature table
    * (id + one long per row) persists LRU-scoped; the much larger
    * intermediate token-hash cache releases eagerly. */
  def simHashes(df: DataFrame, textCol: String, idCol: String, nBits: Int)
  : DataFrame = cached(df, s"simhash:$textCol:$idCol:$nBits") {
    val withHashes = df.select(col(idCol),
      TA.tokenHashes(col(textCol)).as("th")).cache()
    val out = withHashes.select(col(idCol),
      TA.simHashFromHashes(col("th"), nBits).as("simhash")).persist()
    out.count()
    withHashes.unpersist(false)
    out
  }

  /** Connected components over near-dup pairs → (id, label): label is the
    * component's minimum id — the canonical-representative step every
    * dedup pipeline runs after pair generation (keep the min id, drop the
    * rest of each duplicate cluster, transitively: A~B and B~C put A,B,C
    * in one cluster even when A,C never paired).
    *
    * Alternating neighbor-min label propagation + pointer jumping
    * (label(x) ← label(label(x)) each round halves chain depth), so
    * convergence is O(log diameter) keyed joins rather than O(diameter) —
    * a duplicate chain a million docs long converges in ~20 rounds at
    * 100 TB. Each round is two keyed equi-joins + one aggregation; the
    * driver only sees the converged/not-converged bit. Ids absent from
    * `pairs` are singletons (their own cluster) — union them in from the
    * corpus when needed. Output persists LRU-scoped. */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 50): DataFrame =
    cached(pairs, s"clusters:$idA:$idB") {
      labelPropWithRounds(pairs, idA, idB, maxIter)._1
    }

  /** [[clusters]]'s engine, returning (labels, rounds-to-converge) — the
    * round count is the test hook for the algorithm-comparison specs. */
  private[graft] def labelPropWithRounds(pairs: DataFrame, idA: String,
                                         idB: String, maxIter: Int)
  : (DataFrame, Int) = {
      val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .unionAll(pairs.select(col(idB).as("src"), col(idA).as("dst")))
        .distinct().persist()
      // localCheckpoint each round: iterative self-joins otherwise nest the
      // whole prior lineage into every new plan — exponential plan growth
      // (the standard Spark iterative-algorithm discipline; a production
      // run with executor loss uses reliable checkpoint() instead).
      // Checkpoints.eager tracks each round's blocks; the PREVIOUS round's
      // are released as soon as the next round materializes, so a
      // 20-round run holds 2 rounds of blocks, not 20 (round-6 fix).
      var labels = Checkpoints.eager(
        edges.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // smallest label in the closed neighborhood
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nl")),
            "dst")
          .groupBy(col("src").as("id")).agg(min(col("nl")).as("nbr"))
        val stepped = Checkpoints.eager(
          labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("label").as("old"),
              least(col("label"), coalesce(col("nbr"), col("label")))
                .as("mid")))
        // pointer jump: follow the label's own label. The prior label
        // rides along as `old`, so convergence checks the checkpointed
        // frame directly — no join back against the previous round.
        // stepped is checkpointed first: the self-join below would
        // otherwise recompute the whole neighbor-min chain on both sides.
        // next checkpoints LAZILY: the convergence count below is the
        // materializing action, so each round costs TWO jobs (stepped +
        // count), not three — at toy scale the fixed per-job latency IS
        // the round cost (full count, never isEmpty/limit: a partial
        // action would leave checkpoint holes under truncated lineage).
        val next = Checkpoints.lazily(
          stepped
            .join(stepped.select(col("id").as("mid"), col("mid").as("ll")),
              Seq("mid"), "left")
            .select(col("id"), col("old"),
              least(col("mid"), coalesce(col("ll"), col("mid")))
                .as("label")))
        converged = next.filter(col("label") =!= col("old")).count() == 0L
        // next is fully materialized: the prior round's blocks are dead
        Checkpoints.release(labels)
        Checkpoints.release(stepped)
        labels = next.select(col("id"), col("label"))
        iter += 1
      }
      edges.unpersist(false)
      (labels, iter)
  }

  /** Connected components via alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the O(log n)-round alternative to [[clusters]]' label propagation.
    * Same output contract: (id, label) with label = component min id.
    *
    * Each round rewrites the EDGE SET itself toward a star forest:
    * large-star hooks every neighbor larger than u onto u's closed-
    * neighborhood minimum; small-star re-hooks the smaller neighbors.
    * Because edges (not per-node labels) carry the state, a deep chain
    * collapses multiplicatively — the round count is O(log n) regardless
    * of component diameter, where label propagation with one pointer
    * jump per round still pays ~log₂(diameter) rounds of TWO joins each.
    * At 100 TB pair graphs (shallow dup clusters, occasional deep
    * chains from templated crawl families) this is the plan of record;
    * [[clusters]] stays the oracle-gated default.
    *
    * Scale shape per round: two groupBy-aggregations over the current
    * edge set (collect the closed neighborhood min) — no self-join of
    * labels, no window. Edge count never grows: large-star emits ≤ one
    * edge per (u, larger-neighbor), small-star ≤ one per (u, smaller-
    * neighbor ∪ self). Rounds checkpoint and release like the
    * label-prop loop. */
  /** SOFT dedup — down-WEIGHT near-duplicate clusters instead of
    * dropping members: every duplicate cluster's aggregate sampling
    * mass equals one document's (weight = 1/cluster_size; singletons
    * 1.0), so popular content is neither over-trained (the classic
    * duplication harm) nor erased outright (keep-one loses the
    * cluster's best-formatted variant by arbitrary tie-break). Feed
    * the weights to [[graft.operators.Sampling.sampleByWeight]].
    * Per document: (idCol, cluster_size, weight 6 dp). One
    * [[clusters]] pass + one label-count agg + two id-keyed joins —
    * ids only, text never shuffles. */
  /** CROSS-SOURCE duplication matrix — the provenance forensics card
    * ("which sources copy from which?"): near-dup pairs labeled by
    * their endpoints' sources, counted per unordered source pair
    * (sources sort within the pair, so A↔B and B↔A land in one cell
    * regardless of which endpoint got the smaller id). A heavy
    * off-diagonal cell = two feeds shipping the same content (drop
    * one); a heavy diagonal = an internally-duplicated source. Ids
    * only — two id-keyed joins (SMJ at corpus scale — the corpus-
    * sized side must never broadcast) + one keyed agg over
    * |sources|² cells at most. Returns (source_a ≤ source_b,
    * n_pairs). */
  def crossSourceMatrix(docs: DataFrame, pairs: DataFrame,
                        idCol: String, srcCol: String): DataFrame = {
    val s1 = docs.select(col(idCol).as("__ia"),
      col(srcCol).cast("string").as("__sa"))
    val s2 = docs.select(col(idCol).as("__ib"),
      col(srcCol).cast("string").as("__sb"))
    pairs.join(s1, col("id_a") === col("__ia"))
      .join(s2, col("id_b") === col("__ib"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def softWeights(docs: DataFrame, pairs: DataFrame, idCol: String)
  : DataFrame = {
    val lbl = clusters(pairs).select(col("id").as(idCol), col("label"))
    val sizes = lbl.groupBy(col("label")).agg(count(lit(1)).as("__cs"))
    docs.select(col(idCol))
      .join(lbl.join(sizes, "label"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__cs"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("__cs"), lit(1L)), 6)
          .as("weight"))
  }

  def clustersStars(pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b", maxIter: Int = 50): DataFrame =
    cached(pairs, s"clustersStars:$idA:$idB") {
      clustersStarsWithRounds(pairs, idA, idB, maxIter)._1
    }

  private[graft] def clustersStarsWithRounds(pairs: DataFrame, idA: String,
                                             idB: String, maxIter: Int)
  : (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // the node universe is fixed by the input pairs; the star forest at
    // convergence only contains (child, root) edges, so roots (and any
    // node whose edges all collapsed) re-enter via this frame at the end
    val nodes = Checkpoints.eager(
      pairs.select(col(idA).as("id"))
        .unionAll(pairs.select(col(idB).as("id"))).distinct())
    // canonical undirected edge set, no self-loops
    var edges = Checkpoints.eager(
      pairs.select(least(col(idA), col(idB)).as("lo"),
          greatest(col(idA), col(idB)).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct())
    var iter = 0
    var converged = edges.count() == 0L
    while (!converged && iter < maxIter) {
      // LARGE-STAR: per node u over both orientations, m = min of the
      // closed neighborhood; every neighbor v > u re-hooks to (v, m).
      // min-then-join-back (not collect_list): a hot node's neighborhood
      // never materializes as one row, and the join re-uses the groupBy's
      // hash partitioning on u — skew rides AQE like any keyed join.
      val nbrs = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(edges.select(col("hi").as("u"), col("lo").as("v")))
      val lmins = nbrs.groupBy(col("u")).agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val large = Checkpoints.eager(
        nbrs.join(lmins, Seq("u")).filter(col("v") > col("u"))
          .select(col("m").as("lo"), col("v").as("hi"))
          .filter(col("lo") =!= col("hi")).distinct())
      // SMALL-STAR: orient (u, v) with v < u; m = min neighbor (< u);
      // u and every smaller neighbor re-hook to m. m ≤ v < u keeps the
      // (lo, hi) canonical orientation for free.
      val sNbrs = large.select(col("hi").as("u"), col("lo").as("v"))
      val smins = sNbrs.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = Checkpoints.eager(
        sNbrs.join(smins, Seq("u"))
          .select(col("m").as("lo"), col("v").as("hi"))
          .unionAll(smins.select(col("m").as("lo"), col("u").as("hi")))
          .filter(col("lo") =!= col("hi")).distinct())
      // convergence = the edge set IS a star forest, detected directly
      // (each child has exactly one parent, and no parent is itself a
      // child) rather than by a fixed-point confirm round — saves one
      // full round per run. Stars are min-rooted by the (lo, hi)
      // orientation, and the transforms preserve connectivity, so any
      // star-forest state is the answer.
      val dupChild = small.groupBy(col("hi"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .limit(1).count() > 0L
      val parentIsChild = !dupChild && small.select(col("lo"))
        .join(small.select(col("hi").as("lo")), Seq("lo"), "left_semi")
        .limit(1).count() > 0L
      converged = !dupChild && !parentIsChild
      Checkpoints.release(large)
      Checkpoints.release(edges)
      edges = small
      iter += 1
    }
    // at convergence `edges` is a star forest (root=lo, child=hi):
    // children label to their root, everything else labels to itself
    val labels = nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("label"))
    val out = Checkpoints.eager(labels)
    Checkpoints.release(nodes)
    Checkpoints.release(edges)
    (out, iter)
  }

  /** Near-dup COLLAPSE: keep exactly one representative per connected
    * component of `pairs` (via [[clusters]]), plus every document in no
    * pair at all (singletons are their own cluster). The representative
    * is the cluster's max by (`keep`, then lowest id) — pass
    * `length(col("text"))` for the standard keep-longest policy, a
    * quality score for keep-best. This is the step that turns pair/
    * cluster OUTPUT into a deduplicated corpus.
    *
    * Scale shape: one left equi-join of the corpus against the (id,
    * label) frame, then a per-cluster row_number window. Cluster sizes
    * are duplicate-group sizes (bounded, skew-safe); the window key
    * coalesces singletons to their own id, so no giant null partition
    * forms — the corpus never concentrates. */
  def collapseClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
                       keep: Column): DataFrame = {
    // reserved name for the joined cluster label: a bare `label` would
    // collide with a user column of that name (e.g. the embeddings
    // table) — ambiguous-reference on the coalesce, or a dropped user
    // column on the way out
    val labels = clusters(pairs)
      .select(col("id").as(idCol), col("label").as("__cluster_lbl"))
    val w = Window.partitionBy(col("__lbl"))
      .orderBy(keep.desc, col(idCol).asc)
    docs.join(labels, Seq(idCol), "left")
      .withColumn("__lbl", coalesce(col("__cluster_lbl"), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__lbl", "__rn", "__cluster_lbl")
  }

  /** n-gram Jaccard near-dups within a blocking key (e.g. source or length
    * band): exact Jaccard over k-shingle sets for co-blocked pairs.
    *
    * Scale boundary: this is the EXACT-VERIFICATION tier — the caller's
    * `blockCol` bounds the pair fan-out, so its CARDINALITY must grow
    * with the corpus or the within-block self-join goes O(n²/blocks)
    * (the cliff the 100× campaign measured on the fixed-granularity
    * embedding tiers; a (source, length-band) key is fixed-cardinality
    * and is an oracle-scale choice only). At corpus scale, generate
    * candidates with [[minHashPairs]] — its (band, bandKey) keys are
    * content hashes, so cardinality grows with distinct content — and
    * reserve this operator for exact re-verification of those
    * candidates. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: Column, k: Int, minJaccard: Double)
  : DataFrame = {
    // shingle ONCE per doc, as SORTED DISTINCT hashed longs — the native
    // kernel shingles+hashes+sorts in a single codegen'd pass, and the
    // sorted invariant feeds the merge-walk intersection kernel; shingling
    // per pair would be O(pairs·textlen) interpreted and unusable at scale
    val t = cached(df,
        s"ngramShingles:$textCol:$idCol:${blockCol.toString}:$k") {
      val s = df.select(col(idCol), blockCol.as("block"),
        org.apache.spark.sql.graft.TextHashExprs.shingleHash60(
          TA.tokens(col(textCol)), k, sortedDistinct = true).as("sh"))
        .withColumn("sz", size(col("sh")))
        .persist()
      s.count()
      s
    }
    // size-ratio prefilter: J(A,B) ≤ min/max, so J ≥ t requires
    // max ≤ min/t — a necessary condition; kills most pairs before the
    // expensive set intersection without changing the result
    t.as("a").join(t.as("b"),
        col("a.block") === col("b.block") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          col("a.sz") <= col("b.sz") / minJaccard &&
          col("b.sz") <= col("a.sz") / minJaccard)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), {
        // |A∩B| via the codegen merge-walk kernel on the sorted arrays
        val inter = org.apache.spark.sql.graft.SortedLongIntersectSize
          .column(col("a.sh"), col("b.sh")).cast("double")
        round(inter / (col("a.sz") + col("b.sz") - inter), 6).as("jaccard")
      })
      .filter(col("jaccard") >= minJaccard)
  }

  /** Cross-batch incremental exact dedup: drop rows whose content already
    * appeared in ANY earlier batch (or earlier in this batch), using a
    * persisted hash index instead of re-scanning the historical corpus.
    *
    * Index layout (round 11 — replaces the round-8 bucketed table): a
    * hash-prefix partitioned parquet directory on the shared
    * [[graft.sources.IncrementalIndex]] lifecycle — `hp=hX/` hive
    * subdirs keyed by a hex-char prefix of the content hash (16
    * partitions; see [[hpOf]] for the fan-out trade). The probe:
    *  1. collects the BATCH's distinct prefixes (≤ 16 strings) and
    *     loads the index pruned to those subdirs — directory pruning,
    *     so a small micro-batch reads only the slices of the index its
    *     own hashes can live in, instead of the whole accumulated index
    *     every batch (the round-10 O(N²)-over-a-stream's-life defect);
    *  2. hash-joins the pruned scan against the batch's keys with the
    *     BATCH side broadcast (size-guarded) — no shuffle and no sort
    *     of the index side ever (the old MERGE-hint plan re-sorted the
    *     whole index each micro-batch).
    * Deduping today's crawl therefore shuffles O(|batch|) and streams
    * the pruned index scan map-side.
    *
    * Lifecycle: [[retireFromIndex]] tombstones dropped doc ids (their
    * hashes stop suppressing new content immediately at probe time);
    * [[compactIndex]] folds tombstones in and merges per-batch append
    * dust — same crash-safe protocol as the IVF/text/json indexes.
    *
    * The survivors are materialized with a LAZY localCheckpoint whose
    * blocks fill as a side effect of the index-append write (the append
    * consumes every survivor partition), so the protocol pays no
    * separate materialization job per batch (optimization round 19 —
    * the eager variant was one extra job per micro-batch). Lineage
    * truncation still holds once materialized; recompute-correctness
    * never depended on it anyway: the probe excludes the batch's own
    * tag and the index scan's file listing is pinned at load. On the
    * replayed-tag path (append skipped) a count() materializes the
    * checkpoint instead, so callers always receive a fully-materialized
    * frame. Blocks are tracked in [[Checkpoints]] and freed at the next
    * between-queries sweep.
    *
    * `batchTag` makes the call IDEMPOTENT per batch (Spark's foreachBatch
    * is at-least-once — a replayed micro-batch must not probe an index
    * already containing its own survivors, which would silently drop the
    * whole batch): index rows carry the tag, the probe excludes the
    * current tag, and the append is skipped when the tag's marker is
    * already committed (the tag COLUMN survives compaction, so replays
    * stay correct even after a compact anonymizes file names). Pass the
    * streaming batchId (or any stable per-batch id); None = a fresh
    * unique tag (plain run-once batch semantics). */
  def incrementalExact(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, textCol: String, idCol: String,
                       indexName: String,
                       batchTag: Option[String] = None,
                       broadcastProbeMaxBytes: Long = 192L << 20,
                       prefixWidth: Int = 1): DataFrame = {
    require(prefixWidth >= 1 && prefixWidth <= 4,
      s"prefixWidth $prefixWidth not in [1, 4]")
    val tag = batchTag.getOrElse(freshTag())
    val spec = indexSpec(spark, indexName)
    // layout on disk wins over the knob (see persistedPrefixWidth)
    val hpw = persistedPrefixWidth(spec).getOrElse(prefixWidth)
    val hashed = batch.withColumn("content_hash", md5(col(textCol)))
    // first occurrence within the batch (deterministic: min id wins)
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    val inBatch = hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").persist()
    // ONE job materializes the persist AND yields both probe inputs:
    // the batch's distinct prefixes (for directory pruning) and its row
    // count (for the broadcast guard)
    val perPrefix = inBatch.groupBy(hpOf(col("content_hash"), hpw).as("hp"))
      .agg(count(lit(1)).as("__n")).collect()
    val nBatch = perPrefix.map(_.getLong(1)).sum
    val exists = graft.sources.IncrementalIndex.exists(spec)
    val fresh =
      if (exists) {
        val prefixes = perPrefix.map(_.getString(0)).toSeq
        val idx = graft.sources.IncrementalIndex
          .load(spark, spec, "id", Some(col("hp").isin(prefixes: _*)))
          .filter(!(col("batch_tag") <=> lit(tag)))
        val keys = inBatch.select(col("content_hash"))
        // BYTE-sized guard, not row-count: a broadcast pins its build on
        // every executor, so the cap must be what a row actually weighs.
        // Probe rows here are one 32-char md5 (32 UTF8 bytes) + UnsafeRow
        // overhead ≈ 48 B; 192 MB ≈ the old 4M-row default for this shape.
        val probe =
          if (nBatch * ExactProbeRowBytes <= broadcastProbeMaxBytes)
            broadcast(keys) else keys
        // semi first: `dup` is ≤ |batch| rows, so the anti-join below is
        // itself a broadcast — the index side never shuffles or sorts
        val dup = idx.join(probe, Seq("content_hash"), "left_semi")
          .select(col("content_hash")).distinct()
        inBatch.join(dup, Seq("content_hash"), "left_anti")
      } else inBatch
    // lazy checkpoint: the append write below materializes it (one job
    // instead of two); the replayed-tag branch materializes via count()
    val out = Checkpoints.lazily(fresh)
    if (!graft.sources.IncrementalIndex.hasTag(spec, tag))
      graft.sources.IncrementalIndex.append(spark, spec,
        out.select(col(idCol).as("id"), col("content_hash"),
          lit(tag).as("batch_tag"),
          hpOf(col("content_hash"), hpw).as("hp")), tag)
    else out.count() // replay: no write job runs — materialize here
    inBatch.unpersist(false)
    out.drop("content_hash")
  }

  /** Estimated broadcast-row widths for the incremental-index probes —
    * the guards below are sized in BYTES (rows × width vs a byte cap),
    * not row counts, because what pins executor memory is the build
    * side's serialized size and a signature-carrying minhash row is
    * ~3× wider than a bare content hash. Exact probe: 32-byte md5 hex +
    * UnsafeRow overhead. MinHash probe: id + band key (~40 B) + the
    * Int signature array (4 B × seeds + array header). */
  private val ExactProbeRowBytes = 48L
  private def minhashProbeRowBytes(seeds: Int): Long = 96L + 4L * seeds

  private val tagCounter = new java.util.concurrent.atomic.AtomicLong()
  private def freshTag(): String =
    s"auto_${System.nanoTime()}_${tagCounter.incrementAndGet()}"

  /** Partition prefix of a hex-hash column: first `width` chars with a
    * letter sentinel ("h3"), 16^width values. The sentinel keeps hive
    * partition-type inference from reading all-digit prefixes back as
    * integers (which would silently break the string isin pruning).
    *
    * Width trade (measured, round 11/12): width 1 (16 prefixes) is the
    * sweet spot for a micro-batch cadence — each append/compact writes
    * one file per TOUCHED prefix, so probe-side listing stays
    * O(16 × appends) while a sparse probe still prunes to 1/16 of the
    * index; width 2 (256 prefixes) measured ~4.5× slower APPENDS at
    * micro-batch sizes (16× the staged files + partition dirs per
    * append) but prunes probes to 1/256. The knob inverts in width 2's
    * favor when the per-prefix index slice outweighs the append fan-out:
    * batches large enough to touch most of 256 prefixes anyway
    * (≳10k distinct hashes/batch) and an accumulated index whose 1/16
    * slice no longer fits a probe's scan budget — i.e. the petabyte
    * tier, reached via [[compactIndex]] folding append dust first. */
  private def hpOf(hashCol: Column, width: Int = 1): Column =
    concat(lit("h"), substring(hashCol, 1, width))

  /** Prefix width persisted in an existing index's `hp=h…` partition
    * directories — probes and appends MUST agree with the layout on
    * disk, so a live index's own width always overrides the caller's
    * knob (the knob takes effect on the index's FIRST batch). */
  private def persistedPrefixWidth(spec: graft.sources.IncrementalIndex.Spec)
  : Option[Int] =
    graft.sources.IncrementalIndex.partitionValues(spec)
      .collectFirst { case v if v.startsWith("h") => v.length - 1 }

  /** Directory spec of a named incremental-dedup index — app-scoped like
    * [[Bucketing]]'s warehouse, partitioned by the `hp` hash prefix. */
  private def indexSpec(spark: org.apache.spark.sql.SparkSession,
                        name: String)
  : graft.sources.IncrementalIndex.Spec = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad index name: $name")
    graft.sources.IncrementalIndex.Spec(
      graft.GraftSession.appDir(spark, "dedup_idx"),
      name, Some("hp"))
  }

  /** Cross-batch incremental NEAR-dup over a persisted band-key
    * partitioned MinHash signature index — the continuous-ingestion
    * analog of [[incrementalExact]] for near-duplicates, on the same
    * [[graft.sources.IncrementalIndex]] lifecycle (prefix-pruned probe,
    * broadcast batch side, [[retireFromIndex]]/[[compactIndex]]).
    *
    * A new batch computes signatures once, probes the index pruned to
    * the batch's band-key prefixes (directory pruning — the accumulated
    * index is never re-scanned whole), and drops docs whose signature
    * agreement with any indexed doc — or with a SMALLER-id doc of the
    * same batch — reaches `minAgree`. Survivors' band rows append to
    * the index.
    *
    * Within-batch semantics are pairwise-greedy (a doc drops iff some
    * smaller-id batch doc band-matches it at ≥ minAgree, whether or not
    * that doc itself survived) — deterministic at any parallelism, the
    * standard LSH-dedup recipe; use [[clusters]] for transitive
    * canonicalization. Survivors lazily localCheckpoint, materialized by
    * the index-append write itself (or a count() on the replayed-tag
    * path — the incrementalExact protocol), and `batchTag` gives the
    * same per-batch idempotency (probe excludes the current tag; append
    * skipped when the tag is already indexed). */
  def incrementalMinHash(spark: org.apache.spark.sql.SparkSession,
                         batch: DataFrame, textCol: String, idCol: String,
                         indexName: String, k: Int = 3, bands: Int = 4,
                         rowsPerBand: Int = 2, minAgree: Double = 1.0,
                         batchTag: Option[String] = None,
                         broadcastProbeMaxBytes: Long = 192L << 20,
                         prefixWidth: Int = 1): DataFrame = {
    require(prefixWidth >= 1 && prefixWidth <= 4,
      s"prefixWidth $prefixWidth not in [1, 4]")
    val tag = batchTag.getOrElse(freshTag())
    val seeds = bands * rowsPerBand
    // signature + band keys in ONE projection: the native kernels hash each
    // doc once (CollapseProject keeps `sig` an attribute — it's referenced
    // per band, so Catalyst won't inline the hash pipeline); the lazy
    // persist below is the materialization barrier for the self-join and
    // the index append (both read `ex` twice), released before return
    val sigExpr = TA.minHashFromBase(TA.shingleBase(col(textCol), k), seeds)
    val bandArr = array((0 until bands).map { b =>
      concat_ws(":", lit(b), md5(concat_ws(",",
        transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
          x => x.cast("string")))))
    }: _*)
    val ex = batch.select(col(idCol), sigExpr.as("sig"))
      .select(col(idCol), col("sig"), explode(bandArr).as("bkey"))
      .persist()
    val spec = indexSpec(spark, indexName)
    // layout on disk wins over the knob (see persistedPrefixWidth)
    val hpw = persistedPrefixWidth(spec).getOrElse(prefixWidth)
    // ONE job: materialize the persist + prefix set + row count (see
    // incrementalExact)
    val perPrefix = ex.groupBy(hpOf(md5(col("bkey")), hpw).as("hp"))
      .agg(count(lit(1)).as("__n")).collect()
    val nEx = perPrefix.map(_.getLong(1)).sum
    def agrees(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), v => v))
        .cast("double") / lit(seeds.toDouble) >= lit(minAgree)
    // within-batch: some smaller-id band-mate agrees
    val mates = ex.select(col(idCol).as("__oid"), col("sig").as("__osig"),
      col("bkey"))
    val inBatch = ex.join(mates, "bkey")
      .filter(col("__oid") < col(idCol) &&
        agrees(col("sig"), col("__osig")))
      .select(col(idCol))
    val exists = graft.sources.IncrementalIndex.exists(spec)
    val vsIndex =
      if (exists) {
        val prefixes = perPrefix.map(_.getString(0)).toSeq
        val idx = graft.sources.IncrementalIndex
          .load(spark, spec, "id", Some(col("hp").isin(prefixes: _*)))
          .filter(!(col("batch_tag") <=> lit(tag)))
          .select(col("bkey"), col("sig").as("__osig"))
        val bex = ex.select(col(idCol), col("sig"), col("bkey"))
        // byte guard (see ExactProbeRowBytes): these rows carry the full
        // Int-signature array, so the same byte cap admits ~3× fewer
        // rows than the exact-dedup hash probe — by design
        val probe =
          if (nEx * minhashProbeRowBytes(seeds) <= broadcastProbeMaxBytes)
            broadcast(bex) else bex
        // index side streams map-side against the broadcast batch — no
        // shuffle and no sort of the accumulated index, ever
        idx.join(probe, "bkey")
          .filter(agrees(col("sig"), col("__osig")))
          .select(col(idCol))
      } else ex.select(col(idCol)).limit(0)
    // no distinct: an anti-join's semantics are independent of build-side
    // duplicates, and the dedup exchange+agg cost more than the larger
    // (still batch-band-bounded) build (optimization round 19)
    val dupIds = inBatch.unionAll(vsIndex)
    val fresh = batch.join(dupIds, Seq(idCol), "left_anti")
    // lazy checkpoint: the append write below consumes every survivor
    // partition and materializes it (one job instead of two — see
    // incrementalExact); the replayed-tag branch materializes via count()
    val out = Checkpoints.lazily(fresh)
    if (!graft.sources.IncrementalIndex.hasTag(spec, tag))
      graft.sources.IncrementalIndex.append(spark, spec,
        ex.join(out.select(col(idCol)), Seq(idCol))
          .select(col(idCol).as("id"), col("bkey"), col("sig"),
            lit(tag).as("batch_tag"), hpOf(md5(col("bkey")), hpw).as("hp")),
        tag)
    else out.count() // replay: no write job runs — materialize here
    ex.unpersist(false)
    out
  }

  /** Tombstone `ids`' rows out of an incremental-dedup index (exact or
    * minhash): the retired docs stop suppressing new duplicates at the
    * very next probe (the load subtracts tombstones), and leave the
    * files physically at the next [[compactIndex]]. Tag-idempotent like
    * the append. The daily-pipeline shape: retire yesterday's dropped
    * docs, append today's crawl, compact on the weekend. */
  def retireFromIndex(spark: org.apache.spark.sql.SparkSession,
                      indexName: String, ids: DataFrame, idCol: String,
                      batchTag: String): Unit =
    graft.sources.IncrementalIndex.delete(spark, indexSpec(spark, indexName),
      ids.select(col(idCol).as("id")), "id", batchTag)

  /** Fold tombstones in and merge per-batch append dust — the crash-safe
    * two-rename swap shared with the IVF/text/json indexes. Re-appending
    * a previously-retired id requires the compact first (tombstones
    * filter by id until then). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexName: String): Unit =
    graft.sources.IncrementalIndex.compact(spark, indexSpec(spark, indexName),
      "id")

  /** Does a named incremental-dedup index exist on disk? */
  def indexExists(spark: org.apache.spark.sql.SparkSession,
                  indexName: String): Boolean =
    graft.sources.IncrementalIndex.exists(indexSpec(spark, indexName))

  /** Has `batchTag`'s append already committed to the named index? */
  def indexHasTag(spark: org.apache.spark.sql.SparkSession,
                  indexName: String, batchTag: String): Boolean =
    graft.sources.IncrementalIndex.hasTag(indexSpec(spark, indexName),
      batchTag)

  /** Live rows of an incremental-dedup index (appends minus tombstones):
    * (id, content_hash | bkey+sig, batch_tag, hp). Inspection/audit
    * surface — the probes inside [[incrementalExact]]/
    * [[incrementalMinHash]] read the same view pruned to the batch's
    * prefixes. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                indexName: String): DataFrame = {
    val spec = indexSpec(spark, indexName)
    // a marker-only index (every append so far was empty) has no files
    // to infer a schema from — surface that state, don't let the parquet
    // reader throw an opaque inference error
    require(graft.sources.IncrementalIndex.exists(spec),
      s"dedup index '$indexName' holds no data yet " +
        "(check Dedup.indexExists before loading)")
    graft.sources.IncrementalIndex.load(spark, spec, "id")
  }

  /** Drop an incremental-dedup hash index — live dir, tag markers,
    * tombstones, and any in-flight compaction state. */
  def dropIndex(spark: org.apache.spark.sql.SparkSession,
                indexName: String): Unit =
    graft.sources.IncrementalIndex.drop(indexSpec(spark, indexName))

  /** C4-style span-level exact dedup: chunk each document into consecutive
    * non-overlapping k-token spans (trailing partial span included), keep
    * only the globally FIRST occurrence of each distinct span — first =
    * minimal (id, span position), duplicates within a document collapse
    * too — and reassemble the surviving spans in order.
    *
    * Scale shape: tokenize/chunk is a codegen projection; first-occurrence
    * selection is one window over the span; reassembly is one groupBy on
    * the id. Two linear shuffles total, never a self-join. Documents whose
    * spans all lose come back with empty text (the id survives, matching
    * the "remove the repeated span, not the document" semantics).
    *
    * Key-width note (measured, round 8): unlike [[exactSubstrDedup]] —
    * where hashing the window key removed the text from the shuffle
    * entirely and cut bytes ~20× — the span text here must SURVIVE the
    * window for reassembly, so a hashed key only adds 16 incompressible
    * bytes per row next to the still-shipped text value. Both hash-key
    * variants were benched at 1× and 10×: the light-window + id-join
    * restructure halved nothing (compressed shuffle −7%, the id-join
    * re-ships the corpus) and doubled wall time (second tokenize pass +
    * join); the key-swap-only variant grew shuffle bytes (span text
    * lz4-compresses far better than random hash bytes). The raw span key
    * stays — its sort comparisons short-circuit on first differing byte,
    * and the dominant exchange term (span text as value) is irreducible
    * in this operator shape.
    *
    * Returns (idCol, textCol) with the deduplicated text. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"span size $k must be >= 1")
    val toks = TA.tokens(col(textCol))
    // span starts 0, k, 2k, … — slice() tolerates a short tail. Column `/`
    // is double division; cast truncates toward zero like integer div.
    val lastSpan = greatest(((size(toks) - 1) / k).cast("int"), lit(0))
    val spans = transform(sequence(lit(0), lastSpan),
      i => array_join(slice(toks, i * k + 1, lit(k)), " "))
    val exploded = df
      .select(col(idCol), posexplode(spans).as(Seq("span_idx", "span")))
      .filter(col("span") =!= "")
    val w = Window.partitionBy(col("span"))
      .orderBy(col(idCol), col("span_idx"))
    val kept = exploded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    df.select(col(idCol)).join(
        kept.groupBy(col(idCol)).agg(
          array_join(transform(
            array_sort(collect_list(struct(col("span_idx"), col("span")))),
            s => s.getField("span")), " ").as(textCol)),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Dolma-style PARAGRAPH dedup — [[spanDedup]]'s separator-based
    * sibling, the form web pipelines run on extracted text (boilerplate
    * lines — nav, footers, cookie banners — repeat across a domain's
    * pages far more than arbitrary k-token spans do): paragraphs are the
    * text's `sep`-separated segments compared as RAW strings, the
    * globally first occurrence (lowest id, then position) survives, later
    * occurrences drop, survivors rejoin with `sep` in original order.
    * Whitespace-only paragraphs drop (every blank line would otherwise
    * "duplicate" the first). Composes directly with
    * [[graft.functions.Html.htmlText]], whose block-structure newlines
    * are exactly the paragraph boundaries this expects.
    *
    * Scale shape (identical to [[spanDedup]], proven sub-linear there):
    * one generator projection + a window on the paragraph key + one
    * groupBy on the id — two linear shuffles, never a self-join; the
    * paragraph-key window is as skewed as the most-repeated boilerplate
    * line, which is precisely the row_number-1 partition AQE handles. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val exploded = df
      .select(col(idCol), posexplode(paras).as(Seq("para_idx", "para")))
      .filter(trim(col("para")) =!= "")
    val w = Window.partitionBy(col("para"))
      .orderBy(col(idCol), col("para_idx"))
    val kept = exploded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    df.select(col(idCol)).join(
        kept.groupBy(col(idCol)).agg(
          array_join(transform(
            array_sort(collect_list(struct(col("para_idx"), col("para")))),
            s => s.getField("para")), sep).as(textCol)),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** CORPUS DUPLICATION PROFILE — the data-card number summarizing how
    * duplicated a corpus is BEFORE dedup runs (the histogram Dolma/
    * RefinedWeb report: how many exact-duplicate groups of each size,
    * how many documents they hold): group documents by 60-bit text
    * hash, then histogram the group sizes. Returns one row per
    * distinct group size — (group_size, n_groups, n_docs) — so the
    * duplication factor is Σn_docs / Σn_groups and the singleton row
    * is the unique mass. Two keyed aggs (the second over |distinct
    * texts| rows); output is histogram-sized. */
  def duplicationProfile(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(graft.functions.Scalars.hash60(col(textCol)).as("__h"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_docs"))
      .orderBy(col("group_size"))

  /** SemDeDup-style cluster assignment (public method: Abbas et al. 2023 —
    * cluster the embedding space, then prune near-duplicates within each
    * cluster so the pair fan-out is bounded by cluster size, never the
    * corpus). Deterministic variant: the k lowest-id vectors stand in for
    * k-means centroids — the training step becomes replayable cross-engine
    * while the two scale-critical stages (assignment, within-cluster
    * prune) keep exactly the shape the k-means version has.
    *
    * Scale shape: centroids collect to the driver (k rows, O(k) driver
    * memory) and ride into ONE compact codegen kernel call
    * ([[org.apache.spark.sql.graft.CosArgmaxExpr]] — the codebook is a
    * reference object, the k·dim loop is pre-compiled bytecode; the
    * previous k-unrolled greatest(struct…) tree was codegen-hostile at
    * the √k the adaptive path reaches), so assignment is map-only: no
    * join, no shuffle. Cosines round to 6dp so the argmax order is
    * engine-independent; ties break to the lowest centroid index —
    * values bit-identical to the unrolled form. */
  def semanticAssign(df: DataFrame, vecCol: String, idCol: String, k: Int)
  : DataFrame = {
    require(k >= 1, s"cluster count $k must be >= 1")
    val cents: Array[Array[Float]] = df.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Float](1).toArray)
    df.withColumn("cluster",
      org.apache.spark.sql.graft.PqExpressions
        .cosArgmax(col(vecCol), cents))
  }

  /** SemDeDup-style semantic dedup: assign clusters ([[semanticAssign]]),
    * then drop every document that has a τ-similar LOWER-id document in
    * the same cluster (the same greedy-by-id survivor convention as
    * [[incrementalMinHash]] — deterministic at any parallelism, and a
    * dropped document can still shield its own near-dups, so survivor
    * sets are stable under reordering). Returns survivors with their
    * `cluster` column; the only shuffle is the within-cluster equi-join,
    * whose fan-out is bounded per cluster.
    *
    * '''Scale foot-gun''': `k` is FIXED, so the within-cluster pair join
    * is O(n²/k) — measured 954 s at a 100× corpus with k=8 where the
    * corpus-adaptive [[semanticDedupAuto]] (k ≈ ceil(n/64), two-level
    * assignment) took 2.3 s. Reach for `semanticDedupAuto` unless you
    * are deliberately pinning k for replayability at a known small n. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    k: Int, minCos: Double): DataFrame =
    pruneWithinClusters(df, semanticAssign(df, vecCol, idCol, k),
      vecCol, idCol, minCos, s"semAssign:$vecCol:$idCol:$k")

  /** Within-cluster greedy-by-id τ-prune shared by the semantic-dedup
    * variants: a row drops iff some LOWER-id row in the same `cluster`
    * has rounded cosine ≥ minCos. `tag` keys the cached
    * (id, vec, cluster, norm) frame; the only shuffle is the
    * within-cluster equi-join, fan-out bounded per cluster.
    * `asgMaterialized` = the caller already persisted `asg` (the hier
    * path) — the prune then derives its narrow frame straight off that
    * cache instead of persisting a SECOND copy of the vectors. */
  private def pruneWithinClusters(df: DataFrame, asg: DataFrame,
      vecCol: String, idCol: String, minCos: Double, tag: String,
      asgMaterialized: Boolean = false)
  : DataFrame = {
    def narrow = asg.select(col(idCol), col(vecCol), col("cluster"),
      Vectors.norm2(col(vecCol)).as("nrm"))
    val t = if (asgMaterialized) narrow else cached(df, tag) {
      val s = narrow.persist()
      s.count()
      s
    }
    val drops = t.as("a").join(t.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(round(Vectors.dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
        (col("a.nrm") * col("b.nrm")), 6) >= minCos)
      .select(col(s"b.$idCol").as("__drop")).distinct()
    asg.join(drops, asg(idCol) === drops("__drop"), "left_anti")
  }

  /** Cluster count for a target EXPECTED cluster population: k =
    * max(minK, ceil(n / targetCluster)). With k ∝ n the within-cluster
    * pair join stays O(n · targetCluster) — constant work per row —
    * where a FIXED k makes it O(n²/k). The 100× scale run measured
    * exactly that cliff on the fixed-k gate: ratio 1341 at factor 100
    * (13.4× super-linear); the adaptive variant rides ~linear. Pure
    * integer arithmetic so the DuckDB oracle replays it exactly. */
  def adaptiveClusters(n: Long, targetCluster: Int = 64,
                       minK: Int = 8): Int = {
    require(targetCluster > 0 && minK >= 1,
      s"targetCluster=$targetCluster minK=$minK")
    val nn = math.max(0L, n)
    // overflow-safe ceil-div, result clamped into Int range
    val groups = nn / targetCluster + (if (nn % targetCluster == 0) 0 else 1)
    math.min(Int.MaxValue.toLong, math.max(minK.toLong, groups)).toInt
  }

  /** Two-level deterministic centroid assignment — [[semanticAssign]]'s
    * scale tier for cluster counts past what one unrolled argmax
    * projection should carry (the flat variant compiles k cosine
    * expressions into ONE codegen projection; fine to ~low hundreds,
    * codegen-hostile at the thousands adaptive k reaches). Level 1
    * assigns to k1 = ceil(√k) coarse centroids (the k1 lowest-id
    * vectors — flat unrolled argmax, map-only); level 2 assigns within
    * the coarse cell to the cell's k2 = ceil(k/k1) lowest-id members
    * via a BROADCAST centroid join + per-id argmax window (rounded-cos
    * DESC, index ASC — the same deterministic order as level 1).
    * Assignment work is n·(k1+k2) ≈ 2n√k dot products instead of n·k;
    * deeper trees generalize the same way when √k itself outgrows the
    * projection. Output cluster id = coarse·k2 + fine ∈ [0, k1·k2).
    *
    * The fine argmax is a NARROW probe — (id, cell, vec) only, never the
    * caller's other columns — reduced by a map-side-combined `max` over
    * a (cos, −fineIdx) struct (lexicographic max = rounded-cos DESC,
    * index ASC, the level-1 order exactly), so the n·√k fan-out
    * collapses to n rows before it ever shuffles; a window formulation
    * here shuffled the whole fan-out and was measured 3× slower at the
    * 100× corpus. */
  def semanticAssignHier(df: DataFrame, vecCol: String, idCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"cluster count $k must be >= 1")
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = ((k + k1 - 1) / k1)
    val coarse = semanticAssign(df, vecCol, idCol, k1)
      .withColumnRenamed("cluster", "__coarse")
    val wCell = Window.partitionBy(col("__coarse")).orderBy(col(idCol))
    val cents = coarse.select(col("__coarse"), col(idCol), col(vecCol))
      .withColumn("__rn", row_number().over(wCell))
      .filter(col("__rn") <= k2)
      .select(col("__coarse"), (col("__rn") - 1).as("__fidx"),
        col(vecCol).as("__cvec"), Vectors.norm2(col(vecCol)).as("__cnrm"))
    val probe = coarse.select(col(idCol), col("__coarse"), col(vecCol),
      Vectors.norm2(col(vecCol)).as("__nrm"))
    // __coarse rides inside the struct: constant within an id's group
    // (each row has ONE coarse cell), so the max carries it unchanged
    val best = probe.join(broadcast(cents), Seq("__coarse"))
      .select(col(idCol),
        round(Vectors.dot(col(vecCol), col("__cvec")) /
          (col("__nrm") * col("__cnrm")), 6).as("__cos"),
        (-col("__fidx")).as("__neg"), col("__coarse"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), col("__neg"), col("__coarse")))
        .as("__best"))
      .select(col(idCol),
        (col("__best.__coarse") * k2 - col("__best.__neg")).cast("int")
          .as("cluster"))
    coarse.drop("__coarse").join(best, Seq(idCol))
  }

  /** [[semanticDedup]] with the cluster count scaled to the corpus
    * (k = ceil(n/targetCluster)) and the two-level assignment — the
    * shape that survives a 100× corpus: expected cluster population
    * stays ~targetCluster, so the pair join is O(n·targetCluster) and
    * assignment is O(n·√k) dots. One count() over the input derives k
    * (columnar scan, no shuffle). */
  def semanticDedupAuto(df: DataFrame, vecCol: String, idCol: String,
                        minCos: Double, targetCluster: Int = 64)
  : DataFrame = {
    val k = adaptiveClusters(df.count(), targetCluster)
    // the two-level assignment is a real multi-stage job (unlike the
    // flat variant's map-only projection) — materialize it once; the
    // prune consults it for the pair join AND the survivor anti-join
    val asg = cached(df, s"semHier:$vecCol:$idCol:$k") {
      val a = semanticAssignHier(df, vecCol, idCol, k).persist()
      a.count()
      a
    }
    pruneWithinClusters(df, asg, vecCol, idCol, minCos,
      s"semAssignAuto:$vecCol:$idCol:$targetCluster",
      asgMaterialized = true)
  }

  /** ExactSubstr-style duplicated-passage excision (public method: Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better" — remove every LATER occurrence of any duplicated ≥k-token
    * passage, keeping the first, with overlapping duplicated windows
    * merging into one excised span). Token-window formulation of their
    * suffix-array algorithm: every k-token window at every offset is
    * keyed; occurrences that are not the global first (in (doc, offset)
    * order) mark their k positions; the union of marked positions is
    * excised and the text rebuilt. Unlike [[spanDedup]] (disjoint spans),
    * windows OVERLAP, so a duplicated passage of any length ≥ k is
    * excised in full wherever it recurs.
    *
    * Scale shape: three linear shuffles (window key, covered-position
    * set per doc — ints only, id-keyed join back to the input) — never a
    * self-join; the excision itself runs map-side in the join projection
    * (array_except on positions + element_at picks), so the corpus text
    * crosses the wire ONCE where the previous (id,pos,tok) anti-join +
    * regroup shipped it twice (measured −34% shuffle bytes at 10×).
    * The window key is a 128-BIT HASH of the k-token slice (two
    * independently seeded xxhash64 lanes), not the raw window text: the
    * first-occurrence shuffle ships 16 bytes per window instead of the
    * full k-token string (at k=50 and ~6-byte tokens that is ~20× less
    * shuffle volume — the term that dominates at corpus scale, since
    * every token appears in k windows). Collision bound: for W distinct
    * windows, P(any 128-bit collision) ≈ W²/2^129 — at W = 10^13
    * (a ~100 TB corpus) that is ~10^-13, and a collision's only effect
    * is one spurious excised passage. Deterministic at any parallelism
    * (global (doc, offset) order). */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"window size $k must be >= 1")
    val toks = TA.tokens(col(textCol))
    // 128-bit window keys from PRE-HASHED tokens: each token's bytes are
    // hashed once per seed stream, and a window key hashes the k fixed-
    // width longs of its slice — versus hashing every token's bytes 2k
    // times (once per covering window per seed) when the key hashes the
    // string slices directly. Two independently-seeded streams keep the
    // ~2^-128 pair-collision bound; text still never enters the shuffle.
    val wins = df.select(col(idCol), toks.as("tk"))
      .select(col(idCol), size(col("tk")).as("n"),
        transform(col("tk"), t => xxhash64(t)).as("th1"),
        transform(col("tk"),
          t => xxhash64(lit(0x9e3779b97f4a7c15L), t)).as("th2"))
      .select(col(idCol), col("th1"), col("th2"),
        explode(when(col("n") >= k, sequence(lit(1), col("n") - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col(idCol), col("i"),
        struct(
          xxhash64(slice(col("th1"), col("i"), lit(k))),
          xxhash64(lit(0x85ebca6bc2b2ae35L),
            slice(col("th2"), col("i"), lit(k)))).as("win"))
    val w = Window.partitionBy(col("win")).orderBy(col(idCol), col("i"))
    val dup = wins.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
    // per-doc covered-position SET (ints only) joins back to the input;
    // the rebuild picks surviving positions map-side — the corpus text
    // crosses the wire once (the id join) instead of twice (the old
    // (id,pos,tok) anti-join + per-doc regroup). `__toks` is a
    // materialized column: lambda bodies get no CSE, an inlined `toks`
    // would re-tokenize per element.
    val coveredPerDoc = dup.select(col(idCol),
        explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .groupBy(col(idCol)).agg(collect_set(col("pos")).as("__cov"))
    df.withColumn("__toks", toks)
      .join(coveredPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cov").isNull, array_join(col("__toks"), " "))
          .otherwise(array_join(transform(
            array_sort(array_except(
              when(size(col("__toks")) >= 1,
                sequence(lit(1), size(col("__toks"))))
                .otherwise(array().cast("array<int>")),
              col("__cov"))),
            p => element_at(col("__toks"), p)), " "))
          .as(textCol))
  }

  /** Embedding-cosine near-dups, LSH-blocked by sign-bucket: pairs in the
    * same bucket with cosine ≥ threshold.
    *
    * '''Scale foot-gun''': `nBits` is a FIXED width, so the bucketed
    * pair join is O(n²/2^nBits) — measured 227 s at a 100× corpus with
    * 4 bits where the corpus-adaptive [[embeddingPairsAuto]] (width
    * holds the expected bucket population ~64 as n grows) took 1.1 s.
    * Reach for `embeddingPairsAuto` unless you are deliberately pinning
    * the width for replayability at a known small n. */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
                     nBits: Int, minCos: Double): DataFrame = {
    // norms precomputed per vector (cached) — the per-pair work is one dot
    // product instead of three
    val t = cached(df, s"embedBuckets:$vecCol:$idCol:$nBits") {
      val s = df.select(col(idCol), col(vecCol),
        Vectors.signBucket(col(vecCol), nBits).as("bucket"),
        Vectors.norm2(col(vecCol)).as("nrm")).persist()
      s.count()
      s
    }
    t.as("a").join(t.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(Vectors.dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Sign-LSH width for a target EXPECTED bucket population: the
    * smallest bit count giving ≥ ceil(n/targetBucket) buckets, clamped
    * to [minBits, maxBits]. With bits ∝ log₂(n) the bucket self-join
    * stays O(n · targetBucket); a FIXED width makes it O(n²/2^bits) —
    * the 100× scale run measured ratio 613 at factor 100 on the fixed
    * 4-bit gate. Recall per pair falls as bits grow (each extra bit
    * halves the chance a τ-near pair shares the bucket) — the same
    * trade the minhash band planner prices; multiprobe neighbors of
    * the bucket recover it when needed. Integer arithmetic only
    * (highest-bit position, no floating log), so the oracle replays it
    * exactly. `maxBits` must stay ≤ the embedding dim — [[Vectors
    * .signBucket]] reads one element per bit. */
  def adaptiveSignBits(n: Long, targetBucket: Int = 64, minBits: Int = 4,
                       maxBits: Int = 30): Int = {
    require(targetBucket > 0 && minBits >= 1 && maxBits >= minBits,
      s"targetBucket=$targetBucket minBits=$minBits maxBits=$maxBits")
    val nn = math.max(0L, n)
    // overflow-safe ceil-div (n + target - 1 would wrap near Long.Max)
    val groups = math.max(1L,
      nn / targetBucket + (if (nn % targetBucket == 0) 0 else 1))
    val need =
      if (groups <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(groups - 1)
    math.min(maxBits, math.max(minBits, need))
  }

  /** [[embeddingPairs]] with the sign-bucket width scaled to the corpus
    * via [[adaptiveSignBits]] — the shape that survives a 100× corpus.
    * One count() over the input derives the width; the cap is clamped
    * to the EMBEDDING DIMENSION (read from the first row — vectors are
    * fixed-dim by contract) because [[Vectors.signBucket]] reads one
    * element per bit and ANSI element access errors past the end.
    * Past-the-dim corpora (n > target·2^dim) saturate at dim bits —
    * sign-LSH has no more planes to cut; the pair join degrades
    * gracefully toward the residual bucket population. */
  def embeddingPairsAuto(df: DataFrame, vecCol: String, idCol: String,
                         minCos: Double, targetBucket: Int = 64)
  : DataFrame = {
    val dim = df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(30) // empty frame: unused
    val maxBits = math.max(1, math.min(30, dim))
    // a sub-4-dim corpus saturates at dim bits rather than tripping
    // adaptiveSignBits' maxBits >= minBits require
    embeddingPairs(df, vecCol, idCol,
      adaptiveSignBits(df.count(), targetBucket,
        minBits = math.min(4, maxBits), maxBits = maxBits), minCos)
  }

  // ----- Bloom-filter cross-batch dedup (the Dolma "BFF" pattern) -----

  /** A built bloom filter: `mBits` bit positions PACKED 64-per-long
    * (`bits.length == ceil(mBits/64)` — true m/8 bytes, which is what
    * makes "dedup state is m BITS" literal: a Dolma-production
    * 40-gigabit paragraph bloom is 5 GB here, not the 40 GB an
    * `Array[Boolean]`'s byte-per-element layout would cost), `seeds`
    * salted probes per key. */
  case class BloomModel(mBits: Int, seeds: Int, bits: Array[Long])

  /** Packed-word count for an mBits bitmap. */
  private[graft] def bloomWords(mBits: Int): Int =
    ((mBits.toLong + 63) >>> 6).toInt
  private[graft] def bloomSet(bits: Array[Long], p: Long): Unit =
    bits((p >>> 6).toInt) |= 1L << (p & 63)
  private[graft] def bloomGet(bits: Array[Long], p: Long): Boolean =
    ((bits((p >>> 6).toInt) >>> (p & 63)) & 1L) != 0L

  /** The s-th salted probe position of a key: hash60(s + ":" + key) mod
    * mBits — pure arithmetic the oracle replays exactly. */
  private def bloomProbe(key: Column, mBits: Int, s: Int): Column =
    graft.functions.Scalars.hash60(concat(lit(s"$s:"), key)) %
      lit(mBits.toLong)

  /** All `seeds` probe positions as one array column. */
  private def bloomProbes(key: Column, mBits: Int, seeds: Int): Column =
    array((0 until seeds).map(bloomProbe(key, mBits, _)): _*)

  /** Build a bloom filter over a batch's keys — the Dolma "BFF"
    * alternative to [[incrementalExact]]'s persisted index: dedup state
    * is m BITS regardless of how many keys went in, at the price of a
    * false-positive rate ≈ (1 − e^(−seeds·n/m))^seeds. Because the
    * probes are deterministic hash arithmetic, even the false positives
    * replay bit-for-bit cross-engine. One map-side-combined distinct
    * over probe positions; only set positions reach the driver. */
  def bloomBuild(df: DataFrame, keyCol: Column, mBits: Int,
                 seeds: Int): BloomModel = {
    require(mBits > 0 && seeds > 0, s"mBits=$mBits seeds=$seeds")
    val bits = new Array[Long](bloomWords(mBits))
    df.select(explode(bloomProbes(keyCol, mBits, seeds)).as("p"))
      .distinct().collect()
      .foreach(r => bloomSet(bits, r.getLong(0)))
    BloomModel(mBits, seeds, bits)
  }

  /** Might-contain probe as a pure codegen column: every probe position
    * of the key is set. The bitmap rides the plan as ONE array literal —
    * the right shape for SMALL blooms, where the literal stays cheap to
    * analyze/serialize; [[bloomMightContainBc]] is the large-bitmap tier. */
  def bloomMightContain(model: BloomModel, keyCol: Column): Column = {
    // packed literal: mBits/64 longs (a 2^16-bit filter is 1024 longs,
    // not 65536 booleans) — word = bits[p >>> 6], bit = word >> (p & 63)
    // & 1, all codegen'd integer ops (shiftright via call_function: the
    // Scala helper only takes a literal shift amount, the SQL function
    // takes a column). An unrolled seed conjunction, not a forall over
    // a probe array: a HOF here would run interpreted per row.
    val bLit = typedLit(model.bits.toSeq)
    (0 until model.seeds).map { s =>
      val p = bloomProbe(keyCol, model.mBits, s)
      call_function("shiftright",
        element_at(bLit,
          call_function("shiftright", p, lit(6)).cast("int") + 1),
        p.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** [[bloomMightContain]] with the bitmap as a BROADCAST variable
    * instead of a plan literal: a 2²⁰-bit filter as a literal costs
    * seconds PER QUERY in analysis + per-task serialization (it
    * dominated the streaming sink's micro-batch time at ~2.5 s/batch);
    * broadcast ships the bits to each executor once. Probe positions
    * are the same hash60 arithmetic (computed as columns — only the
    * final array-of-bools lookup crosses the UDF boundary), so values
    * and the DuckDB replay are unchanged. */
  def bloomMightContainBc(model: BloomModel, keyCol: Column): Column = {
    val session = org.apache.spark.sql.SparkSession.active
    val bc = session.sparkContext.broadcast(model.bits)
    bloomMightContainWords(bc, model.mBits, model.seeds, keyCol)
  }

  /** [[bloomMightContainBc]] over a CALLER-HELD broadcast of the packed
    * words — the streaming tier: the bitmap only changes BETWEEN
    * micro-batches, so [[graft.streaming.Streams]]'s state holder
    * broadcasts once per advancement and every probe (and at-least-once
    * replay) in that window reads the same executor-resident words.
    * Re-wrapping per batch (what a fresh [[BloomModel]] per micro-batch
    * costs) re-ships the whole bitmap every trigger — at
    * Dolma-production sizes (tens of gigabits → GBs of words) that is
    * the real per-batch cliff, well before the FP rate. Probe positions
    * are the same hash60 column arithmetic; only the final word lookup
    * crosses the UDF boundary. */
  def bloomMightContainWords(
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
      mBits: Int, seeds: Int, keyCol: Column): Column = {
    val look = udf((probes: Seq[Long]) => probes.forall(p =>
      ((bc.value((p >>> 6).toInt) >>> (p & 63)) & 1L) != 0L))
    look(bloomProbes(keyCol, mBits, seeds))
  }

  /** Drop rows whose key the bloom filter claims to have seen (new-rows
    * survivor stream; false positives drop a few extra — the documented
    * BFF trade). Map-only filter; the bitmap ships as a codegen literal
    * while small and as a broadcast past 2¹⁶ bits. */
  def bloomFilterNew(df: DataFrame, model: BloomModel,
                     keyCol: Column): DataFrame =
    if (model.mBits <= (1 << 16))
      df.filter(!bloomMightContain(model, keyCol))
    else df.filter(!bloomMightContainBc(model, keyCol))

  /** Drop rows the caller-broadcast bitmap claims to have seen — the
    * streaming twin of [[bloomFilterNew]] (see
    * [[bloomMightContainWords]] for why the broadcast lives outside). */
  def bloomFilterNewWords(
      df: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
      mBits: Int, seeds: Int, keyCol: Column): DataFrame =
    df.filter(!bloomMightContainWords(bc, mBits, seeds, keyCol))

  /** Merge a frame's keys into an existing packed bitmap (mutates
    * `bits`) — the micro-batch update step of the streaming bloom sink.
    * `mBits` is the logical bit count (the words array is ceil(m/64)
    * long, so it can't derive m). One map-side-combined distinct; only
    * newly relevant positions reach the driver. */
  def bloomAddInPlace(bits: Array[Long], mBits: Int, seeds: Int,
                      df: DataFrame, keyCol: Column): Unit = {
    require(bits.length == bloomWords(mBits),
      s"words=${bits.length} != ceil($mBits/64)")
    df.select(explode(bloomProbes(keyCol, mBits, seeds)).as("p"))
      .distinct().collect()
      .foreach(r => bloomSet(bits, r.getLong(0)))
  }
}
