package graft.operators

import graft.sources.IncrementalIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted crawl-frontier ledger — the state of the continuous-crawl
  * LOOP between discovery ([[Sitemaps.discoverFrontier]], link
  * extraction, sitemap parses) and policy/scheduling
  * ([[Robots.frontierFilter]]/[[Robots.schedule]]): what has been seen,
  * what has been fetched, and therefore what to fetch next.
  *
  * Two append-only ledgers per frontier name, the LinkGraph edge-index
  * discipline: `discovered` holds (url, from_sitemap, from_link)
  * provenance PARTIALS (one row per sighting — OR-folded at read), and
  * `fetched` holds fetch receipts. Appends are O(batch) and
  * tag-idempotent (an at-least-once replay of a committed tag no-ops);
  * the accumulated state is never read on the ingest path. The PENDING
  * frontier — distinct discoveries minus fetch receipts — is computed
  * at read time by the periodic scheduling pass, exactly like
  * [[LinkGraph.loadEdges]] feeds the periodic re-rank. */
object Frontier {

  private def spec(spark: org.apache.spark.sql.SparkSession,
                   name: String, sub: String)
  : graft.sources.IncrementalIndex.Spec = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad frontier name: $name")
    graft.sources.IncrementalIndex.Spec(
      graft.GraftSession.appDir(spark, "frontier_idx"),
      s"${name}_$sub", None)
  }

  /** Append one batch of discovery sightings: `urls` carries `urlCol`
    * plus boolean `from_sitemap`/`from_link` provenance columns
    * (seed/self sightings pass false/false). Partials — duplicates
    * across batches are expected and fold at [[pending]] time. */
  def appendDiscovered(spark: org.apache.spark.sql.SparkSession,
                       urls: DataFrame, urlCol: String, name: String,
                       batchTag: String): Unit =
    graft.sources.IncrementalIndex.append(spark, spec(spark, name, "disc"),
      urls.select(col(urlCol).as("url"),
        col("from_sitemap").cast("boolean"),
        col("from_link").cast("boolean")),
      batchTag)

  /** Append one batch of fetch receipts. */
  def appendFetched(spark: org.apache.spark.sql.SparkSession,
                    urls: DataFrame, urlCol: String, name: String,
                    batchTag: String): Unit =
    graft.sources.IncrementalIndex.append(spark, spec(spark, name, "fet"),
      urls.select(col(urlCol).as("url")), batchTag)

  /** The pending frontier: every url sighted but not yet fetched, with
    * OR-folded provenance — (url, from_sitemap, from_link). One keyed
    * agg over the discovery partials + one anti-join on fetch receipts
    * (ids only ship). Feed to [[Robots.frontierFilter]] /
    * [[Robots.schedule]] for the next fetch round. Empty (not an
    * error) before the first discovery append. */
  def pending(spark: org.apache.spark.sql.SparkSession, name: String)
  : DataFrame = {
    // empty, not a parquet path error, before the first append (ADVICE r14)
    val disc = IncrementalIndex.loadOrEmpty(spark, spec(spark, name, "disc"),
        "url", "url string, from_sitemap boolean, from_link boolean")
      .groupBy(col("url"))
      .agg(max(col("from_sitemap")).as("from_sitemap"),
        max(col("from_link")).as("from_link"))
    val fetched = IncrementalIndex.loadOrEmpty(spark, spec(spark, name, "fet"),
        "url", "url string")
      .select(col("url")).distinct()
    disc.join(fetched, Seq("url"), "left_anti")
  }

  /** Raw discovery partials (pre-fold) — spec hook for pinning the
    * replay no-op, which [[pending]]'s OR-fold would otherwise hide.
    * Empty (not an error) before the first append. */
  private[graft] def discoveredPartials(
      spark: org.apache.spark.sql.SparkSession, name: String): DataFrame =
    IncrementalIndex.loadOrEmpty(spark, spec(spark, name, "disc"), "url",
      "url string, from_sitemap boolean, from_link boolean")

  /** Has this batch tag already committed to the discovery ledger? */
  def hasDiscoveredTag(spark: org.apache.spark.sql.SparkSession,
                       name: String, batchTag: String): Boolean =
    graft.sources.IncrementalIndex.hasTag(spec(spark, name, "disc"),
      batchTag)

  // ----- changed-only re-processing (revisit-fetch economics) -----

  /** Load the change ledger with schema evolution (ADVICE r15): a
    * ledger written before the conditional-fetch columns existed lacks
    * `etag`/`last_modified` — backfill them as null strings so
    * [[latestReceipts]]/[[changedOnlyConditional]] read pre-existing
    * ledgers instead of failing with AnalysisException (a pre-validator
    * row genuinely has no receipt, which null states exactly).
    *
    * Reads with `mergeSchema` (ADVICE r16): after the first conditional
    * append to a pre-existing 3-column ledger the directory holds mixed
    * 3- and 5-column files, and a plain read infers the schema from ONE
    * sampled footer — whether the stored etag/last_modified receipts
    * are visible would depend on file-listing order. Merging the
    * footers makes the evolved columns deterministic; the backfill
    * below then only fires for ledgers with NO 5-column file at all. */
  private def loadChg(spark: org.apache.spark.sql.SparkSession,
                      sp: graft.sources.IncrementalIndex.Spec)
  : DataFrame = {
    val raw = IncrementalIndex.loadOrEmpty(spark, sp, "url",
      "url string, h bigint, etag string, last_modified string, seq bigint",
      mergeSchema = true)
    Seq("etag", "last_modified").foldLeft(raw) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("string"))
    }
  }

  /** Latest recorded content hash per url: (url → __ph); empty before
    * the first append (every first-batch url is "never seen"). */
  private def latestHashes(spark: org.apache.spark.sql.SparkSession,
                           name: String): DataFrame = {
    loadChg(spark, spec(spark, name, "chg"))
      .groupBy(col("url"))
      .agg(max(struct(col("seq"), col("h"))).as("__last"))
      .select(col("url").as("__pu"), col("__last")("h").as("__ph"))
  }

  /** CHANGED-ONLY gate for revisit fetches — the re-processing
    * economics of a continuous crawl: a revisit re-downloads the page,
    * but unchanged content must not re-enter curation (at 100 TB the
    * curation cost dwarfs the fetch). A per-frontier ledger records
    * the latest content hash per url (append-only partials, latest =
    * max (seq, hash)); this filters the batch to rows whose hash
    * differs from the recorded latest (urls never seen pass), then
    * advances the ledger with the CHANGED rows only — an unchanged
    * row's recorded latest already equals its content, so the ledger
    * stays both correct and small. Tag-idempotent with the natural
    * at-least-once semantics: a REPLAY of a committed batch returns NO
    * new work (its hashes are already the recorded latest) and
    * appends nothing — exactly what a restarted pipeline wants.
    * `batchSeq` must be monotone per frontier (one batch per seq). */
  def changedOnly(spark: org.apache.spark.sql.SparkSession,
                  batch: DataFrame, urlCol: String, contentCol: String,
                  name: String, batchSeq: Long, batchTag: String)
  : DataFrame = {
    // NULL content never enters the gate (ADVICE r15): a null hash
    // committed to the ledger would NULL-poison every later comparison
    // for that url — such rows (a fetch that produced no body) drop
    // here, and the hash compare below is null-safe besides.
    val withH = batch.filter(col(contentCol).isNotNull).withColumn("__h",
      graft.functions.Scalars.hash60(col(contentCol)))
    val changed = Checkpoints.eager(
      withH.join(latestHashes(spark, name),
          col(urlCol) === col("__pu"), "left")
        .filter(!(col("__h") <=> col("__ph")))
        .drop("__pu", "__ph"))
    graft.sources.IncrementalIndex.append(spark, spec(spark, name, "chg"),
      changed.select(col(urlCol).as("url"), col("__h").as("h"),
        lit(null).cast("string").as("etag"),
        lit(null).cast("string").as("last_modified"),
        lit(batchSeq).as("seq")),
      batchTag)
    changed.drop("__h")
  }

  def dropChangeLedger(spark: org.apache.spark.sql.SparkSession,
                       name: String): Unit =
    graft.sources.IncrementalIndex.drop(spec(spark, name, "chg"))

  // ----- conditional fetch (ETag / If-Modified-Since receipts) -----
  // The cheapest recrawl byte is the one never downloaded: HTTP
  // validators (RFC 9110 §8.8 / §13) let a revisit send If-None-Match /
  // If-Modified-Since and receive a body-less 304 when the page is
  // unchanged. The change ledger therefore records each url's latest
  // validator pair next to its content hash: [[latestReceipts]] is what
  // the fetcher attaches to a conditional request, and
  // [[changedOnlyConditional]] is the ingest twin that accepts a mixed
  // 304/200 batch — 304 receipts short-circuit BEFORE content hashing
  // (there is no content), 200 bodies flow through the same hash gate
  // as [[changedOnly]].

  /** Latest validator receipt per url from the change ledger:
    * (url, cond_etag, cond_last_modified) of the max-seq row. Empty
    * before the first append. The fetcher's conditional-request side —
    * join onto the next revisit batch ([[withConditional]]). */
  def latestReceipts(spark: org.apache.spark.sql.SparkSession,
                     name: String): DataFrame = {
    loadChg(spark, spec(spark, name, "chg"))
      .groupBy(col("url"))
      .agg(max(struct(col("seq"), col("h"), col("etag"),
        col("last_modified"))).as("__last"))
      .select(col("url"), col("__last")("etag").as("cond_etag"),
        col("__last")("last_modified").as("cond_last_modified"))
  }

  /** [[changedOnly]] for a CONDITIONAL revisit batch — rows are either
    * 304 receipts (`statusCol` = 304, no body) or full responses (any
    * other status, body in `contentCol`):
    *
    *   - 304 rows short-circuit before hashing: the protocol asserts
    *     the stored content is current, so they never enter the output
    *     (no re-processing) and the ledger carries their stored hash
    *     forward at `batchSeq` with refreshed validators (a 304 may
    *     rotate the ETag — response validators win over stored ones).
    *     A 304 for a NEVER-SEEN url is a protocol impossibility (no
    *     validators were ever sent); such rows are dropped entirely.
    *   - other rows hash and gate exactly like [[changedOnly]]:
    *     changed (or never-seen) rows pass to the output and advance
    *     the ledger with their `etagCol`/`lastModifiedCol` validators;
    *     unchanged bodies drop (server ignored the validators — the
    *     hash gate still saves the re-processing).
    *
    * Same tag-idempotence as [[changedOnly]]: a replay of a committed
    * batch returns no new work and appends nothing. One keyed join
    * against the ledger fold; the batch side never shuffles twice.
    *
    * PRECONDITION (ADVICE r15): one row per url per batch. A batch
    * carrying the same url twice (e.g. a 304 AND a 200) appends two
    * ledger rows at one seq, and the latest-wins fold then tie-breaks
    * by hash/validator string VALUE — deterministic but semantically
    * arbitrary. A real fetcher issues one request per url per round;
    * callers merging channels must dedupe on `urlCol` first. */
  def changedOnlyConditional(spark: org.apache.spark.sql.SparkSession,
                             batch: DataFrame, urlCol: String,
                             contentCol: String, statusCol: String,
                             etagCol: String, lastModifiedCol: String,
                             name: String, batchSeq: Long,
                             batchTag: String): DataFrame = {
    val led = loadChg(spark, spec(spark, name, "chg"))
      .groupBy(col("url"))
      .agg(max(struct(col("seq"), col("h"), col("etag"),
        col("last_modified"))).as("__last"))
      .select(col("url").as("__pu"), col("__last")("h").as("__ph"),
        col("__last")("etag").as("__pe"),
        col("__last")("last_modified").as("__plm"))
    val notMod = col(statusCol) === 304
    // ONE snapshot of the (batch ⋈ latest-receipts) join per round
    // (optimization round 19): both the changed set and the 304 carry
    // leg derive from it lazily, so the ledger fold + join + content
    // hash run once per round instead of twice (the old shape eagerly
    // checkpointed each leg separately). The snapshot is taken BEFORE
    // the append, so neither leg can observe its own append.
    // NULL-content 200s never hash and the compare is null-safe
    // (ADVICE r15) — a null hash in the ledger would otherwise mute
    // the url forever.
    // FOOTPRINT (ADVICE r19): the snapshot carries contentCol for EVERY
    // batch row, including unchanged 200s the hash gate will drop —
    // O(batch content) per round, not O(changed content). Accepted: the
    // alternative (snapshot metadata only, re-join content for the
    // changed leg) re-reads and re-shuffles the batch source per round,
    // which costs more than the transient block footprint at any batch
    // size a crawl round realistically fetches; MEMORY_AND_DISK spill
    // bounds the blocks and the per-round sweep frees them.
    val snap = Checkpoints.eager(
      batch.join(led, col(urlCol) === col("__pu"), "left")
        .withColumn("__h", when(!notMod && col(contentCol).isNotNull,
          graft.functions.Scalars.hash60(col(contentCol)))))
    val carried = snap.filter(notMod && col("__ph").isNotNull)
      .select(col(urlCol).as("url"), col("__ph").as("h"),
        coalesce(col(etagCol), col("__pe")).as("etag"),
        coalesce(col(lastModifiedCol), col("__plm")).as("last_modified"),
        lit(batchSeq).as("seq"))
    val changed = snap
      .filter(!notMod && col(contentCol).isNotNull &&
        !(col("__h") <=> col("__ph")))
      .drop("__pu", "__ph", "__pe", "__plm")
    val payload = changed
      .select(col(urlCol).as("url"), col("__h").as("h"),
        col(etagCol).cast("string").as("etag"),
        col(lastModifiedCol).cast("string").as("last_modified"),
        lit(batchSeq).as("seq"))
      .unionByName(carried)
    graft.sources.IncrementalIndex.append(spark, spec(spark, name, "chg"),
      payload, batchTag)
    changed.drop("__h")
  }

  /** Attach conditional-fetch validators to a due-revisit frame
    * ([[revisitDue]] output — must carry `host`, `priority`,
    * `staleness_ms`): `cond_etag` / `cond_last_modified` from the
    * change ledger's latest receipts, `has_validator`, and `cond_rank`
    * — the per-host fetch-queue position where VALIDATOR-BEARING urls
    * come first (a conditional probe costs a ~zero-byte 304 when
    * unchanged, so polling those ahead of unconditional fetches buys
    * freshness at near-zero bandwidth), then the [[revisitDue]]
    * (priority, staleness) order. One keyed equi-join; the receipts
    * side is the ledger fold, never the corpus. */
  def withConditional(due: DataFrame, urlCol: String,
                      receipts: DataFrame): DataFrame = {
    val r = receipts.select(col("url").as("__ru"), col("cond_etag"),
      col("cond_last_modified"))
    val j = due.join(r, col(urlCol) === col("__ru"), "left").drop("__ru")
      .withColumn("has_validator",
        col("cond_etag").isNotNull || col("cond_last_modified").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("has_validator").desc, col("priority").desc,
        col("staleness_ms").desc, col(urlCol))
    j.withColumn("cond_rank", row_number().over(w).cast("long"))
  }

  /** sitemaps.org changefreq → revisit interval (ms). `always` = 0,
    * `never` = no interval (revisits only on a newer lastmod). */
  private val ChangefreqMs: Seq[(String, Long)] = Seq(
    "always" -> 0L, "hourly" -> 3600000L, "daily" -> 86400000L,
    "weekly" -> 604800000L, "monthly" -> 2592000000L,
    "yearly" -> 31536000000L)

  /** REVISIT scheduling — the third phase of the crawl lifecycle
    * (discover → fetch → refresh): which fetched urls are due for
    * refetch at `nowMs`, from fetch receipts and the sitemap's change
    * metadata ([[Sitemaps.urls]] output). Due when
    *
    *   (a) the declared lastmod is NEWER than the stored fetch — the
    *       site says it changed, due regardless of interval; or
    *   (b) the changefreq interval has elapsed since the fetch
    *       (`never` has no interval; absent changefreq falls back to
    *       `defaultIntervalMs`).
    *
    * Output = the due rows with `host`, protocol-default-coalesced
    * `priority` (0.5), `staleness_ms` (= now − fetched_at), and
    * `revisit_rank` — the per-host fetch-queue position (priority
    * desc, staleness desc, url; per-host because the queue IS
    * per-host under politeness — the [[Robots.schedule]] partition).
    * One equi-join on url + one per-host window; all arithmetic is
    * integer-ms, oracle-replayable. */
  def revisitDue(fetched: DataFrame, urlCol: String, fetchedAtCol: String,
                 meta: DataFrame, locCol: String, nowMs: Long,
                 defaultIntervalMs: Long = 86400000L): DataFrame =
    revisitCore(fetched, urlCol, fetchedAtCol, meta, locCol, nowMs,
      lit(defaultIntervalMs))

  /** [[revisitDue]] body with a caller-supplied FALLBACK interval
    * column for urls whose sitemap changefreq is absent (the plain
    * path passes the constant default; the adaptive path passes the
    * ledger-derived estimate). Output additionally carries
    * `interval_ms` — the interval actually applied (null = `never`). */
  private def revisitCore(fetched: DataFrame, urlCol: String,
                          fetchedAtCol: String, meta: DataFrame,
                          locCol: String, nowMs: Long,
                          fallbackIntervalMs: org.apache.spark.sql.Column)
  : DataFrame = {
    val m = meta.select(col(locCol).as("__mu"),
      col("lastmod_date").as("__lm"), col("changefreq").as("__cf"),
      col("priority").as("__pr"))
    val interval = ChangefreqMs.foldLeft(
      when(col("__cf").isNull, fallbackIntervalMs)) {
        case (e, (k, v)) => e.when(col("__cf") === k, lit(v))
      } // 'never' and unknown values fall through to null = no interval
    val lastmodMs = col("__lm").cast("timestamp").cast("long") * 1000
    val freshDue = coalesce(lastmodMs > col(fetchedAtCol), lit(false))
    val due = fetched
      .join(m, col(urlCol) === col("__mu"), "left")
      .withColumn("__iv", interval)
      .filter(freshDue ||
        coalesce(col(fetchedAtCol) + col("__iv") <= nowMs, lit(false)))
      .withColumn("host", lower(regexp_extract(col(urlCol),
        "(?i)^https?://([^/:?#]+)", 1)))
      .withColumn("priority",
        coalesce(col("__pr").cast("double"), lit(0.5)))
      .withColumn("staleness_ms", lit(nowMs) - col(fetchedAtCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("priority").desc, col("staleness_ms").desc,
        col(urlCol))
    due.withColumn("revisit_rank",
        (row_number().over(w)).cast("long"))
      .withColumn("interval_ms", col("__iv"))
      .drop("__mu", "__lm", "__cf", "__pr", "__iv")
  }

  /** Per-url CHANGE-RATE estimate from the conditional change ledger —
    * the observed twin of sitemap changefreq: over the url's receipt
    * history (seq-ordered), `n_revisits` = observations after the
    * first, `n_changed` = how many of them carried a NEW content hash.
    * Exact under the [[changedOnlyConditional]] contract where every
    * revisit leaves a receipt (changed 200s append the new hash, 304s
    * carry the old one forward); validator-less unchanged revisits
    * append nothing, so a plain-[[changedOnly]] ledger UNDERCOUNTS
    * revisits and the estimate errs toward "changes often" — the
    * conservative direction for a crawler. One keyed window + one
    * keyed agg over the ledger (receipts, never the corpus). */
  def changeRates(spark: org.apache.spark.sql.SparkSession,
                  name: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url")).orderBy(col("seq"))
    loadChg(spark, spec(spark, name, "chg"))
      .withColumn("__ph", lag(col("h"), 1).over(w))
      .groupBy(col("url"))
      .agg((count(lit(1)) - 1).as("n_revisits"),
        sum(when(col("__ph").isNotNull && col("h") =!= col("__ph"), 1L)
          .otherwise(0L)).as("n_changed"))
  }

  /** CHANGE-RATE-ADAPTIVE revisit scheduling — closes the crawl-
    * economics loop [[revisitDue]] only approximates from declared
    * metadata: where a url has NO sitemap changefreq, its revisit
    * interval comes from its own observed history instead of a blanket
    * default. The estimator inverts the observed rate:
    *
    *   interval = clamp(default · n_revisits DIV n_changed, min, max)
    *
    * — a page that changed on every revisit polls at `default`, one
    * that changed half the time at 2·default, one never seen to change
    * at `max` (never-crawled-again is a policy no crawler wants, so
    * the cap, not `never`); urls with no history fall back to
    * `default`. Integer-exact (DIV), oracle-replayable. Declared
    * changefreq still wins where present (the site knows best), as
    * does a fresh lastmod. Output = [[revisitDue]]'s plus
    * `interval_ms`/`n_revisits`/`n_changed` for observability. One
    * extra keyed join vs [[revisitDue]] — receipts-sized, never the
    * corpus. */
  def revisitDueAdaptive(fetched: DataFrame, urlCol: String,
                         fetchedAtCol: String, meta: DataFrame,
                         locCol: String, rates: DataFrame, nowMs: Long,
                         defaultIntervalMs: Long = 86400000L,
                         minIntervalMs: Long = 3600000L,
                         maxIntervalMs: Long = 2592000000L): DataFrame = {
    require(minIntervalMs <= maxIntervalMs && defaultIntervalMs > 0,
      s"bad intervals: default=$defaultIntervalMs min=$minIntervalMs " +
        s"max=$maxIntervalMs")
    val r = rates.select(col("url").as("__ru"),
      col("n_revisits").as("n_revisits"),
      col("n_changed").as("n_changed"))
    val withR = fetched.join(r, col(urlCol) === col("__ru"), "left")
      .drop("__ru")
    val fallback =
      when(col("n_revisits").isNull || col("n_revisits") === 0,
        lit(defaultIntervalMs))
        .when(col("n_changed") === 0, lit(maxIntervalMs))
        .otherwise(least(greatest(
          expr(s"($defaultIntervalMs * n_revisits) DIV n_changed"),
          lit(minIntervalMs)), lit(maxIntervalMs)))
    revisitCore(withR, urlCol, fetchedAtCol, meta, locCol, nowMs,
      fallback)
  }

  /** SCORE-PROPORTIONAL crawl budgets — how a bounded fetch round is
    * split across hosts (Common Crawl allocates per-host page budgets
    * from its harmonic-centrality host ranks; [[LinkGraph.pageRank]]'s
    * micro-unit ranks plug in directly as `scoreCol`):
    *
    *   budget(host) = clamp(floor(total · score / Σ score),
    *                        minPerHost, maxPerHost)
    *
    * then each host's urls rank by url order and rows past the budget
    * drop. Hosts absent from `hostScores` get `minPerHost` (a crawl
    * must not starve hosts it has never ranked). Arithmetic is exact —
    * decimal(38,0) products (a 10⁹-url budget times a 10¹² micro-unit
    * rank overflows BIGINT), floor division, oracle-replayable. The
    * floor may under-fill `total` by < #hosts urls; redistribution is
    * deliberately NOT done (it would make budgets order-dependent).
    *
    * Shape: one scalar Σ (a one-row agg), one size-bounded score join
    * (hosts, not urls), one per-host window — the politeness partition
    * [[Robots.schedule]] already sorts by. */
  def crawlBudget(pending: DataFrame, urlCol: String, hostCol: String,
                  hostScores: DataFrame, scoreCol: String, total: Long,
                  minPerHost: Long = 1L,
                  maxPerHost: Long = Long.MaxValue): DataFrame = {
    require(total > 0 && minPerHost >= 0 && maxPerHost >= minPerHost,
      s"bad budget: total=$total min=$minPerHost max=$maxPerHost")
    val sc = hostScores.select(col(hostCol).as("__bh"),
      col(scoreCol).cast("decimal(38,0)").as("__bs"))
    val totalScore = sc.agg(sum(col("__bs"))).head.getDecimal(0)
    val budget =
      if (totalScore == null || totalScore.signum() <= 0)
        lit(minPerHost)
      else least(greatest(floor(col("__bs") * lit(total) /
          lit(totalScore)).cast("long"), lit(minPerHost)),
        lit(maxPerHost))
    val withB = pending
      .join(sc, col(hostCol) === col("__bh"), "left")
      .withColumn("host_budget",
        coalesce(when(col("__bs").isNotNull, budget), lit(minPerHost)))
      .drop("__bh", "__bs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hostCol)).orderBy(col(urlCol))
    withB.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("host_budget"))
      .drop("__rk")
  }

  def drop(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    graft.sources.IncrementalIndex.drop(spec(spark, name, "disc"))
    graft.sources.IncrementalIndex.drop(spec(spark, name, "fet"))
  }
}
