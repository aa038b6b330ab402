package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Host-level link graph + PageRank from crawl HTML — the host-quality
  * tier of web-corpus curation (Common Crawl publishes exactly this:
  * host/domain-level ranks from the crawl's link graph, used to weight
  * and gate pages before text-level filters; see commoncrawl.org's
  * cc-webgraph ranking releases). Complements the per-page signals
  * ([[graft.functions.Html.linkDensity]], Gopher/C4 gates) with a
  * corpus-global one.
  *
  * Scale shape: edge extraction is a pure projection + one (src,dst)
  * keyed agg; each PageRank iteration broadcast-joins the SMALL rank
  * frame (one row per host — even a 100 TB crawl has ~10⁸ hosts, and
  * the rank frame carries two columns) onto the edge frame and reduces
  * by destination — the edge frame, the big side, never re-shuffles
  * across iterations.
  *
  * Determinism: ranks are 10⁻¹² micro-units on BIGINT with
  * floor-division at every step (the lmScore integer playbook), so
  * per-node inflow sums are order-free and the DuckDB oracle replays
  * iterations bit-for-bit. This is the common simplified PageRank:
  * dangling-node mass is dropped, not redistributed (total mass decays
  * toward the teleport term — fine for RANKING, documented here). */
object LinkGraph {

  /** href values of anchor tags. Whitespace spelled as an explicit
    * class (house rule: Java's \s includes U+000B where RE2's does
    * not, and the oracle replays this regex in DuckDB/RE2). */
  def anchorHrefs(html: Column): Column =
    regexp_extract_all(html,
      lit("(?i)<a[ \t\n\r][^>]*href[ \t\n\r]*=[ \t\n\r]*\"([^\"]*)\""),
      lit(1))

  /** Lowercased host of an ABSOLUTE http(s) url; null for relative /
    * mailto / malformed — the edges tier only follows cross-host
    * absolute links. */
  def hostOfAbs(url: Column): Column = {
    val h = regexp_extract(url, "(?i)^https?://([^/:?#]+)", 1)
    when(length(h) > 0, lower(h))
  }

  /** Full anchor elements (`<a …>inner</a>`), for paired
    * href+anchor-text extraction. (?s): anchors may span lines; the
    * lazy body stops at the first closing tag, so adjacent anchors
    * don't merge. */
  private val anchorFullPat =
    "(?is)<a[ \t\n\r][^>]*href[ \t\n\r]*=[ \t\n\r]*\"[^\"]*\"[^>]*>" +
      ".*?</a>"

  /** Incoming ANCHOR-TEXT harvest — the classic web-corpus augmentation
    * signal (what others call a page when linking to it; search and
    * corpus pipelines attach harvested anchor text to the TARGET
    * document as auxiliary description). One row per (dst_host,
    * anchor_text) with its occurrence count; inner markup stripped,
    * whitespace canonicalized to single spaces, absolute http(s)
    * targets only. Pure projection + explode + one keyed agg. */
  def anchorTexts(pages: DataFrame, htmlCol: String): DataFrame = {
    val a = col("__a")
    val inner = regexp_extract(a, "(?is)^<a[^>]*>(.*)</a>$", 1)
    val txt = trim(regexp_replace(
      regexp_replace(inner, "<[^>]*>", ""), "[ \t\n\r]+", " "))
    pages.select(explode(regexp_extract_all(col(htmlCol),
        lit(anchorFullPat), lit(0))).as("__a"))
      .select(
        hostOfAbs(regexp_extract(a,
          "(?i)href[ \t\n\r]*=[ \t\n\r]*\"([^\"]*)\"", 1)).as("dst"),
        txt.as("anchor"))
      .filter(col("dst").isNotNull && length(col("anchor")) > 0)
      .groupBy(col("dst"), col("anchor")).agg(count(lit(1)).as("n"))
  }

  /** (src_host, dst_host, n) edge list: one row per linked host pair,
    * self-loops dropped (intra-site nav would dominate every host). */
  def edges(pages: DataFrame, uriCol: String, htmlCol: String)
  : DataFrame =
    pages.select(hostOfAbs(col(uriCol)).as("src"),
        explode(anchorHrefs(col(htmlCol))).as("href"))
      .select(col("src"), hostOfAbs(col("href")).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))

  /** Total rank mass at iteration 0: 10¹² micro-units split evenly. */
  private val Scale = 1000000000000L

  /** Hosts up to which the per-iteration rank frame broadcasts (~a few
    * hundred MB of host strings + longs); past it the iteration joins
    * by shuffle. */
  private[graft] val BroadcastHostMax = 5000000L

  /** `iters` rounds of integer PageRank over an (src, dst, n) edge
    * frame; returns (host, rank_u). `dampingPermille`=850 is the
    * classic d=0.85. Per edge the contribution is
    * floor(rank_u·n / outdeg) (weighted by link multiplicity); per node
    * the update is floor((1000−d)·base/1000) + floor(d·inflow/1000).
    * Long-range audit: rank_u ≤ 10¹², inflow ≤ 10¹² (mass conservation
    * minus floor dust), rank_u·n ≤ 10¹⁸ < 2⁶³ for n up to a million
    * parallel links between one host pair. */
  def pageRank(edgeFrame: DataFrame, iters: Int = 3,
               dampingPermille: Int = 850): DataFrame =
    rank(edgeFrame, prior = None, iters, dampingPermille)

  /** WARM-START PageRank — the continuous-crawl maintenance shape: new
    * archives extend the edge set daily, and re-iterating from the
    * PREVIOUS ranks converges in far fewer rounds than a cold uniform
    * start (power iteration warm start). Semantics are exact and
    * oracle-replayable, not "approximately converged": hosts present in
    * `prior` start from their prior rank_u, hosts new to the merged
    * graph start from the merged graph's uniform base, then `iters`
    * rounds of the SAME integer update run on the merged edges. */
  def pageRankWarm(edgeFrame: DataFrame, prior: DataFrame,
                   iters: Int = 1, dampingPermille: Int = 850): DataFrame =
    rank(edgeFrame, Some(prior), iters, dampingPermille)

  private def rank(edgeFrame: DataFrame, prior: Option[DataFrame],
                   iters: Int, dampingPermille: Int): DataFrame = {
    require(iters >= 0 && dampingPermille >= 0 && dampingPermille <= 1000)
    val edges = edgeFrame.select(col("src"), col("dst"),
      col("n").cast("long").as("n"))
    // the static big side persists once (the clusters/labelProp
    // discipline): iterations re-read blocks, never re-extract edges
    val withOd = edges
      .join(edges.groupBy(col("src")).agg(sum(col("n")).as("od")), "src")
      .persist() // od ≥ n > 0 by construction
    val nodes = Checkpoints.eager(
      edges.select(col("src").as("host"))
        .unionAll(edges.select(col("dst").as("host"))).distinct())
    val nNodes = math.max(nodes.count(), 1L) // one bounded driver scalar
    val base = Scale / nNodes
    val d = dampingPermille.toLong
    val teleport = (1000L - d) * base / 1000L
    // exact integral division: double division then truncate would lose
    // bits past 2^53 — rank_u·n reaches 10^18
    def idiv(x: Column, y: Column): Column =
      org.apache.spark.sql.graft.GraftExpressions.integralDiv(x, y)
    var ranks = prior match {
      case None => nodes.select(col("host"), lit(base).as("rank_u"))
      case Some(p) => Checkpoints.eager(
        nodes.join(p.select(col("host").as("__ph"),
            col("rank_u").cast("long").as("__pr")),
          col("host") === col("__ph"), "left")
          .select(col("host"),
            coalesce(col("__pr"), lit(base)).as("rank_u")))
    }
    // size-guarded broadcast (the nbClassify discipline): one row per
    // host is small until it isn't — at ~10⁸ hosts (a full-crawl graph)
    // the rank frame is GBs and re-broadcasting it per iteration IS the
    // cliff; past the guard the iteration joins by shuffle on src,
    // which AQE plans against the persisted edge side. The node count
    // is already measured above, so the join shape is deterministic —
    // never left to flip at the AQE byte-estimate boundary.
    val bcastRanks = nNodes <= BroadcastHostMax
    (0 until iters).foreach { _ =>
      val rside = if (bcastRanks) broadcast(ranks) else ranks
      val inflow = withOd
        .join(rside, col("src") === col("host"))
        .select(col("dst"),
          idiv(col("rank_u") * col("n"), col("od")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      // eager per round: iterative joins otherwise nest the whole prior
      // lineage into every new plan; the previous round's blocks are
      // released as soon as this round materializes
      ranks = Checkpoints.eager(
        nodes.join(inflow, col("host") === col("dst"), "left")
          .select(col("host"),
            (lit(teleport) +
              idiv(coalesce(col("inflow"), lit(0L)) * d, lit(1000L)))
              .as("rank_u")))
    }
    withOd.unpersist()
    ranks
  }

  /** The composed signal: pages in, per-host rank out. */
  def hostRank(pages: DataFrame, uriCol: String, htmlCol: String,
               iters: Int = 3, dampingPermille: Int = 850): DataFrame =
    pageRank(edges(pages, uriCol, htmlCol), iters, dampingPermille)

  // ----- persisted edge index (continuous-crawl accumulation) -----

  /** App-scoped edge-index spec (the dedup-index convention). FLAT —
    * unlike the probe-pruned dedup/ANN indexes, PageRank reads EVERY
    * edge, so partition pruning buys nothing; what matters is that
    * appends are O(batch): each batch lands its own PARTIAL (src,dst,n)
    * counts and [[loadEdges]] re-aggregates, so the accumulated index
    * is never read (let alone rewritten) on the ingest path. */
  private def indexSpec(spark: org.apache.spark.sql.SparkSession,
                        name: String)
  : graft.sources.IncrementalIndex.Spec = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad index name: $name")
    graft.sources.IncrementalIndex.Spec(
      graft.GraftSession.appDir(spark, "linkgraph_idx"),
      name, None)
  }

  /** Append one batch of pages' edges, tag-idempotent (an at-least-once
    * replay of a committed `batchTag` is a no-op). */
  def appendEdges(spark: org.apache.spark.sql.SparkSession,
                  pages: DataFrame, uriCol: String, htmlCol: String,
                  indexName: String, batchTag: String): Unit =
    graft.sources.IncrementalIndex.append(spark,
      indexSpec(spark, indexName), edges(pages, uriCol, htmlCol),
      batchTag)

  /** The accumulated edge set: per-batch partials re-aggregated —
    * identical to [[edges]] over the union of every appended page
    * batch. Feed to [[pageRank]]/[[pageRankWarm]]. */
  def loadEdges(spark: org.apache.spark.sql.SparkSession,
                indexName: String): DataFrame =
    graft.sources.IncrementalIndex.load(spark,
        indexSpec(spark, indexName), "src")
      .groupBy(col("src"), col("dst")).agg(sum(col("n")).as("n"))

  def dropEdgeIndex(spark: org.apache.spark.sql.SparkSession,
                    indexName: String): Unit =
    graft.sources.IncrementalIndex.drop(indexSpec(spark, indexName))
}
