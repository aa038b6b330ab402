package graft.streaming

import graft.functions.Scalars
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout}

/** Structured-Streaming realization of the reference's realtime-ingestion
  * semantics (SURVEY §2.9).
  *
  * Reference model: Kafka-partition consumers append to a mutable segment,
  * sealed per interval (`LLRealtimeSegmentDataManager.java:596,705`);
  * ingestion-time rollup pre-aggregates metrics
  * (`MutableSegmentImpl aggregateMetrics`); upsert keeps newest-by-comparison
  * per PK (`ConcurrentMapPartitionUpsertMetadataManager`); dedup drops
  * exact-PK repeats (`DedupConfig`).
  *
  * Spark mapping: micro-batch ≈ segment seal; rollup = watermarked windowed
  * agg (update mode); upsert = `mapGroupsWithState` keyed by PK; dedup =
  * `dropDuplicates` within watermark. All stateful ops are keyed → state is
  * hash-partitioned across executors; watermarks bound state size, which is
  * what makes the operators viable on an unbounded 100 TB/day stream.
  *
  * Sink contract. Every `*Sink` here is a body over one private
  * skeleton, `microBatchSink` — the reference's one consuming-segment
  * loop (consume, index at ingest, seal) whatever indexes the table
  * has — and the sink contract (Structured Streaming's epoch-id
  * idempotent sink) holds for all of them:
  *  - **Tag.** A sink instance is named by its `streamTag`, or by a
  *    fresh tag per instance when none is given. Micro-batch N commits
  *    to its index under `<instance>_N` (a sink that appends to several
  *    indexes per batch, like [[frontierSink]], uses
  *    `<instance>_<part>_N`). Pass something stable across restarts of
  *    the SAME logical stream — the checkpoint location is the natural
  *    choice — to keep idempotency across a crash-recovery replay; the
  *    default covers in-run retries and treats each new query as new
  *    data (batchIds restart at 0 per query).
  *  - **Replay.** Under Spark's at-least-once micro-batch retries, a
  *    tagged sink's replayed batch finds its tag committed and appends
  *    nothing, so retries cannot double-index; the untagged sinks are
  *    stateless or keep their own replay state (see each).
  *  - **Handler delay.** The checkpoints a batch takes belong to its
  *    sink instance (a `Checkpoints.Scope`) and free at the end of the
  *    NEXT batch of that instance, never another sink's: the frame
  *    handed to `handler` stays valid for one batch beyond its own, so
  *    a handler may defer consumption (async writer, short-lived cache)
  *    by one batch; one that keeps it longer must `Checkpoints.pin` it.
  *    Any number of sinks may run in one session.
  */
object Streams {
  /** Kafka partition-level source (reference: `PartitionLevelConsumer` /
    * `KafkaStreamConsumerFactory`; option surface ≈ the reference's
    * `streamConfigs` map — offsets criteria, rate limiting, consumer
    * props). Emits the raw key/value/partition/offset/timestamp columns;
    * apply `Ingest.Pipeline`-style transforms downstream.
    *
    * Option forwarding is spec-tested against Spark's source-resolution
    * machinery (a registered fake `kafka` provider captures what `load()`
    * hands the source — `StreamingSpec`); only the live consume loop
    * needs a broker + connector jar and stays waived in this container
    * (MemoryStream drives the same DataFrame contract in the specs).
    * The waiver is one jar-drop away from closing: connector jars in
    * `lib/` (or `GRAFT_EXTRA_JARS`) join the classpath via build.sbt
    * with zero code changes, and [[KafkaSmoke]] is the one-command
    * live-consume proof against a real broker.
    *
    * `maxOffsetsPerTrigger` is the per-micro-batch rate cap (the
    * reference's realtime ingestion throttles per consuming segment);
    * `kafkaOptions` passes through raw consumer/connector options
    * (`kafka.*` props, `failOnDataLoss`, `minPartitions`, …). */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String,
                  startingOffsets: String = "latest",
                  maxOffsetsPerTrigger: Option[Long] = None,
                  kafkaOptions: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .options(kafkaOptions)
    maxOffsetsPerTrigger.foreach(n =>
      reader.option("maxOffsetsPerTrigger", n.toString))
    reader.load()
  }

  /** Streaming WARC ingestion — continuous-crawl archives LANDING in a
    * directory (the shape a fetch fleet produces: finished `.warc.gz`
    * files dropped into object storage). Spark's file stream source
    * tracks seen files in the checkpoint; each NEW archive becomes one
    * task of the next micro-batch, parsed by the same single-cursor
    * pass as batch [[graft.sources.Warc.read]] — per-batch cost is
    * O(new archives), nothing rescans the directory's history. Emits
    * [[graft.sources.Warc.schema]] rows; chain the curation stages
    * (`payloadText`, html kernels, dedup sinks) downstream.
    * `maxFilesPerTrigger` is the per-micro-batch rate cap (the same
    * throttle role as kafka's `maxOffsetsPerTrigger`). */
  def warcSource(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val binSchema = new StructType()
      .add("path", StringType).add("modificationTime", TimestampType)
      .add("length", LongType).add("content", BinaryType)
    val reader = spark.readStream.format("binaryFile").schema(binSchema)
    val withOpt = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    withOpt.load(dir).select(col("content"))
      .as(org.apache.spark.sql.Encoders.BINARY)
      .flatMap(b => graft.sources.Warc.parseAll(
        graft.sources.Warc.gunzipIfNeeded(b)))(
        org.apache.spark.sql.Encoders.row(graft.sources.Warc.schema))
      .toDF()
  }

  /** Micro-batch parquet sink — the "segment seal" path: each micro-batch
    * appends a columnar file set, checkpointed for exactly-once. */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  triggerSec: Long = 60)
  : DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(triggerSec * 1000))

  /** Tag of one micro-batch of one sink instance. */
  private final case class BatchTag(instance: String, batchId: Long) {
    /** `<instance>_<batchId>`: the tag a sink commits its batch under. */
    def name: String = s"${instance}_$batchId"
    /** `<instance>_<part>_<batchId>`: one of several indexes one batch
      * appends to. */
    def part(p: String): String = s"${instance}_${p}_$batchId"
  }

  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong()
  private def freshStreamTag(): String =
    s"sink_${System.nanoTime()}_${sinkCounter.incrementAndGet()}"

  /** The one micro-batch sink skeleton (the sink contract in the
    * [[Streams]] header): names the instance, runs `body` then
    * `handler` per batch inside the instance's checkpoint scope. No
    * sink registers its own batch function. */
  private def microBatchSink(df: DataFrame,
                             streamTag: Option[String] = None)
                            (body: (DataFrame, Long, BatchTag) => DataFrame)
                            (handler: DataFrame => Unit)
  : DataStreamWriter[Row] = {
    val instance = streamTag.getOrElse(freshStreamTag())
    val scope = new graft.operators.Checkpoints.Scope
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      scope.batch(handler(body(batch, batchId, BatchTag(instance, batchId))))
    }
  }

  /** Streaming NEAR-dup dedup: each micro-batch runs the incremental
    * MinHash protocol against the persisted band-bucketed signature index
    * ([[graft.operators.Dedup.incrementalMinHash]]) and hands the
    * surviving rows to `handler`. Unlike the watermark-bounded exact
    * [[dedup]], the horizon is unbounded: state lives in the bucketed
    * index TABLE, not executor memory — it survives restarts and is
    * shared with any batch ingestion writing the same index, which is
    * how a realtime + offline pipeline stays mutually deduplicated.
    * A REPLAYED micro-batch probes the index minus its own prior
    * survivors (not against them — which would silently drop the whole
    * batch), so the handler sees identical rows on every retry. */
  def nearDedupSink(docs: DataFrame, textCol: String, idCol: String,
                    indexName: String, minAgree: Double = 1.0,
                    k: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                    streamTag: Option[String] = None,
                    prefixWidth: Int = 1)
                   (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs, streamTag) { (batch, _, tag) =>
      graft.operators.Dedup.incrementalMinHash(
        batch.sparkSession, batch, textCol, idCol, indexName,
        k, bands, rowsPerBand, minAgree, batchTag = Some(tag.name),
        prefixWidth = prefixWidth)
    }(handler)

  /** Streaming bloom dedup (the Dolma-BFF twin of [[exactDedupSink]]):
    * dedup state is m BITS held on the driver — constant regardless of
    * stream length, the trade being a deterministic false-positive rate.
    * At-least-once idempotency WITHOUT a tagged index: the sink keeps
    * the pre-batch bitmap alongside the post-batch one, so a REPLAYED
    * batchId re-probes against the bitmap as it stood BEFORE that batch
    * first ran (probing the merged bits would drop the whole batch) and
    * leaves the bits unchanged; the handler sees identical survivors on
    * every retry. Out-of-order replays older than the last applied batch
    * cannot be served from two snapshots and throw. Map-only per batch:
    * the probe is [[graft.operators.Dedup.bloomFilterNew]], the update
    * one distinct over the survivors' probe positions. */
  def bloomDedupSink(docs: DataFrame, keyCol: String, mBits: Int = 1 << 20,
                     seeds: Int = 3)
                    (handler: DataFrame => Unit): DataStreamWriter[Row] = {
    val state = new BloomDedupState(keyCol, mBits, seeds)
    microBatchSink(docs) { (batch, batchId, _) =>
      state.process(batch, batchId)
    }(handler)
  }

  /** Driver-held state of [[bloomDedupSink]], factored out so the
    * micro-batch protocol is unit-testable. `before` snapshots the
    * bitmap as it stood when the CURRENT batch first ran (it is never
    * mutated after the swap, so the lazily-evaluated survivor frame
    * stays stable across re-reads); `after` accumulates. Within-batch
    * duplicates both pass (the bitmap only advances between batches) —
    * compose with [[graft.operators.Dedup.exact]] when in-batch
    * suppression is wanted. */
  private[graft] final class BloomDedupState(keyCol: String, mBits: Int,
                                             seeds: Int) {
    // packed 64-per-long — true m/8 bytes of driver state, the
    // documented "m BITS" claim made literal (an Array[Boolean] is a
    // byte per element: 8× the heap at Dolma-production bloom sizes)
    private val words = graft.operators.Dedup.bloomWords(mBits)
    private var before = new Array[Long](words)
    private var after = new Array[Long](words)
    private var lastBatch = -1L
    // ONE broadcast per bitmap VERSION: `before` is immutable from the
    // moment it is swapped in (mutations go to `after`), so it ships to
    // executors once per advancement and every probe in that window —
    // including the at-least-once replay — reads the executor-resident
    // copy. Re-broadcasting per micro-batch (a fresh BloomModel wrap
    // each trigger) re-ships the whole bitmap every batch: GBs per
    // trigger at production sizes. Superseded handles are left to
    // Spark's ContextCleaner — a still-lazy survivor frame from the
    // prior window may yet probe one.
    private var bcBefore
    : org.apache.spark.broadcast.Broadcast[Array[Long]] = null
    // bitmap versions shipped — the spec's one-broadcast-per-advancement
    // pin ([[StreamingSpec]])
    private[graft] var broadcasts = 0L
    def process(batch: DataFrame, batchId: Long): DataFrame =
      synchronized {
        val kc = org.apache.spark.sql.functions.col(keyCol)
        if (batchId < lastBatch)
          throw new IllegalStateException(
            s"bloomDedupSink: replayed batch $batchId older than " +
              s"applied $lastBatch — only the immediately-prior batch " +
              "can replay")
        if (batchId > lastBatch) {
          before = after
          after = before.clone()
          bcBefore = null
        }
        if (bcBefore == null) {
          bcBefore =
            batch.sparkSession.sparkContext.broadcast(before)
          broadcasts += 1
        }
        val fresh = graft.operators.Dedup.bloomFilterNewWords(
          batch, bcBefore, mBits, seeds, kc)
        if (batchId > lastBatch) {
          graft.operators.Dedup.bloomAddInPlace(after, mBits, seeds,
            fresh, kc)
          lastBatch = batchId
        }
        fresh
      }
  }

  /** Streaming PARAGRAPH dedup — Dolma's production shape (its paragraph
    * dedup IS a Bloom filter over paragraphs): each micro-batch splits
    * its documents into `sep`-separated paragraphs, drops those whose
    * bits were set by EARLIER batches, first-occurrence-dedups the rest
    * within the batch (the bitmap only advances between batches, so the
    * within-batch rule is exactly batch
    * [[graft.operators.Dedup.paragraphDedup]]'s window), rebuilds each
    * document in paragraph order, and hands the rebuilt frame to
    * `handler` — every input id appears, a fully-deduped document as
    * empty text. Dedup state is m BITS on the driver — constant for any
    * stream length, the trade being a deterministic false-positive rate
    * (a genuinely new paragraph dropped as "seen"). Replay contract =
    * [[bloomDedupSink]]: the pre-batch bitmap is retained, so an
    * at-least-once retry of the last batch rebuilds byte-identical
    * documents; older replays throw. */
  def paragraphDedupSink(docs: DataFrame, textCol: String, idCol: String,
                         mBits: Int = 1 << 20, seeds: Int = 3,
                         sep: String = "\n")
                        (handler: DataFrame => Unit): DataStreamWriter[Row] =
    paragraphDedupSinkWith(new BloomDedupState("para", mBits, seeds),
      docs, textCol, idCol, sep)(handler)

  /** [[paragraphDedupSink]] over a caller-held [[BloomDedupState]] — the
    * state handle is what lets a test or gate replay the last micro-batch
    * through [[paragraphDedupBatch]] and assert byte-identical rebuilds. */
  private[graft] def paragraphDedupSinkWith(state: BloomDedupState,
                                            docs: DataFrame,
                                            textCol: String, idCol: String,
                                            sep: String)
                                           (handler: DataFrame => Unit)
  : DataStreamWriter[Row] =
    microBatchSink(docs) { (batch, batchId, _) =>
      paragraphDedupBatch(state, batch, batchId, textCol, idCol, sep)
    }(handler)

  /** One micro-batch of [[paragraphDedupSink]], factored out so the
    * protocol is unit-testable (the [[BloomDedupState]] pattern). */
  private[graft] def paragraphDedupBatch(state: BloomDedupState,
                                         batch: DataFrame, batchId: Long,
                                         textCol: String, idCol: String,
                                         sep: String): DataFrame = {
    val paras = split(col(textCol),
      java.util.regex.Pattern.quote(sep), -1)
    val exploded = batch
      .select(col(idCol), posexplode(paras).as(Seq("para_idx", "para")))
      .filter(trim(col("para")) =!= "")
    val fresh = state.process(exploded, batchId)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para")).orderBy(col(idCol), col("para_idx"))
    val kept = fresh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    batch.select(col(idCol)).join(
        kept.groupBy(col(idCol)).agg(
          array_join(transform(
            array_sort(collect_list(struct(col("para_idx"), col("para")))),
            p => p.getField("para")), sep).as(textCol)),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Streaming EXACT dedup against the persisted content-hash index —
    * the continuous-crawl twin of [[nearDedupSink]] over
    * [[graft.operators.Dedup.incrementalExact]]: unbounded horizon (index
    * table, not executor state), shared with batch ingestion on the same
    * index. `prefixWidth` passes through to the index layout knob (an
    * existing index's on-disk width wins — see Dedup.persistedPrefixWidth). */
  def exactDedupSink(docs: DataFrame, textCol: String, idCol: String,
                     indexName: String,
                     streamTag: Option[String] = None,
                     prefixWidth: Int = 1)
                    (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs, streamTag) { (batch, _, tag) =>
      graft.operators.Dedup.incrementalExact(
        batch.sparkSession, batch, textCol, idCol, indexName,
        batchTag = Some(tag.name), prefixWidth = prefixWidth)
    }(handler)

  /** Streaming DECONTAMINATION gate — "never train on eval" enforced
    * AT INGEST: each micro-batch drops documents sharing a k-shingle
    * with the benchmark set BEFORE they reach the corpus sink, so
    * contaminated text never lands in training storage at all (the
    * batch-side report tiers measure; this tier prevents). STATELESS,
    * unlike the dedup sinks: the bench shingle set is static per
    * eval-set version — build it once with
    * [[graft.operators.Decontaminate.benchShingles]] (eager, pinned,
    * plan-keyed) and it broadcasts into every batch's probe — so
    * there is no growing index, no horizon, and no idempotency tag: a
    * replayed batch filters to the identical survivor set by
    * construction. Per batch: one kernel shingle pass + one broadcast
    * probe + one anti join, all O(batch). Survivors pass to
    * `handler`. */
  def decontamSink(docs: DataFrame, textCol: String, idCol: String,
                   benchSh: DataFrame, k: Int)
                  (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs) { (batch, _, _) =>
      batch.join(graft.operators.Decontaminate.flaggedWith(
        batch, textCol, idCol, benchSh, k), Seq(idCol), "left_anti")
    }(handler)

  /** Streaming TEXT-index maintenance — the reference's realtime text
    * indexing (mutable segments index text AT INGEST —
    * `RealtimeLuceneTextIndex`, `pinot-segment-local/.../realtime/impl/
    * invertedindex/RealtimeLuceneTextIndex.java` — so TEXT_MATCH answers
    * over data seconds old). Each micro-batch appends its postings to
    * the persisted tp-partitioned index through the tag-idempotent
    * [[graft.sources.TextIndexLifecycle]] protocol: O(batch), one
    * tokenize job + one partitioned write, never a corpus re-index. The
    * batch rows pass through to `handler` unchanged — index maintenance
    * is a side effect of ingest, exactly the reference's shape — and
    * the index is shared with batch ingestion on the same root (the
    * hybrid realtime + offline story). The term dictionary stays lazy
    * (folds at `loadVocab`), so this hot path pays nothing for it. */
  def textIndexSink(docs: DataFrame, textCol: String, idCol: String,
                    indexRoot: String, streamTag: Option[String] = None)
                   (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs, streamTag) { (batch, _, tag) =>
      graft.sources.TextIndexLifecycle.append(batch.sparkSession,
        indexRoot, textCol, idCol, batch, tag.name)
      batch
    }(handler)

  /** Streaming LINK-GRAPH maintenance — the crawl's edge set
    * accumulates per micro-batch: each batch of fetched pages extracts
    * its (src,dst,n) PARTIAL counts and appends them tag-idempotently
    * to the persisted edge index
    * ([[graft.operators.LinkGraph.appendEdges]] — O(batch), the
    * accumulated index is never read on the ingest path);
    * [[graft.operators.LinkGraph.loadEdges]] +
    * [[graft.operators.LinkGraph.pageRankWarm]] are the periodic
    * re-rank over everything absorbed so far. Same shape as
    * [[textIndexSink]]: batch passed through, index shared with batch
    * writers on the same name. */
  def linkGraphSink(pages: DataFrame, uriCol: String, htmlCol: String,
                    indexName: String, streamTag: Option[String] = None)
                   (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(pages, streamTag) { (batch, _, tag) =>
      graft.operators.LinkGraph.appendEdges(batch.sparkSession, batch,
        uriCol, htmlCol, indexName, tag.name)
      batch
    }(handler)

  /** Streaming frontier maintenance — the state of the continuous-crawl
    * LOOP: each micro-batch of fetched pages appends (a) its own uris
    * to the FETCHED ledger (receipts) and as seed sightings to the
    * DISCOVERED ledger (a fetched url was by definition discovered —
    * this is what retires it from pending), and (b) every absolute
    * anchor href it contains as link sightings. Both appends are
    * O(batch) and tag-idempotent, under the batch's `d` and `f` part
    * tags; [[graft.operators.Frontier.pending]]
    * (discovered ∖ fetched, provenance OR-folded) then feeds
    * Robots.frontierFilter/schedule for the NEXT fetch round — the
    * sitemap channel appends through
    * [[graft.operators.Frontier.appendDiscovered]] on its own tags. */
  def frontierSink(pages: DataFrame, uriCol: String, htmlCol: String,
                   frontierName: String, streamTag: Option[String] = None)
                  (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(pages, streamTag) { (batch, _, tag) =>
      val s = batch.sparkSession
      val self = batch.select(col(uriCol).as("url"),
        lit(false).as("from_sitemap"), lit(false).as("from_link"))
      val links = batch.select(explode(
          graft.operators.LinkGraph.anchorHrefs(col(htmlCol))).as("url"))
        .filter(col("url").rlike("(?i)^https?://"))
        .select(col("url"), lit(false).as("from_sitemap"),
          lit(true).as("from_link"))
      graft.operators.Frontier.appendDiscovered(s,
        self.unionByName(links), "url", frontierName, tag.part("d"))
      graft.operators.Frontier.appendFetched(s,
        batch.select(col(uriCol)), uriCol, frontierName, tag.part("f"))
      batch
    }(handler)

  /** Streaming CONDITIONAL-REVISIT ingest — the refresh fetcher's
    * output as a micro-batch stream: each batch mixes body-less 304
    * receipts with full 200 responses, and the sink routes it through
    * [[graft.operators.Frontier.changedOnlyConditional]] — 304s
    * advance the validator ledger without re-processing, unchanged 200
    * bodies drop at the hash gate, and ONLY actually-changed rows
    * reach `handler` (the downstream curation feed). The ledger seq is
    * `seqBase + batchId`; compose with earlier batch rounds by passing
    * a `seqBase` above their seqs (the ledger's latest-wins fold is
    * seq-ordered). A replayed micro-batch appends nothing and hands
    * `handler` an empty frame. */
  def conditionalRevisitSink(fetches: DataFrame, urlCol: String,
                             contentCol: String, statusCol: String,
                             etagCol: String, lastModifiedCol: String,
                             frontierName: String, seqBase: Long = 0L,
                             streamTag: Option[String] = None)
                            (handler: DataFrame => Unit)
  : DataStreamWriter[Row] =
    microBatchSink(fetches, streamTag) { (batch, batchId, tag) =>
      graft.operators.Frontier.changedOnlyConditional(
        batch.sparkSession, batch, urlCol, contentCol, statusCol,
        etagCol, lastModifiedCol, frontierName, seqBase + batchId,
        tag.name)
    }(handler)

  /** Streaming JSON-index maintenance — the realtime twin of the json
    * posting table (`MutableJsonIndexImpl`: the reference builds the
    * json index inside consuming segments too). Same shape as
    * [[textIndexSink]]: per-batch O(batch) flatten + path-partitioned
    * append, batch passed through, index shared with batch lifecycle
    * writers on the same root. */
  def jsonIndexSink(docs: DataFrame, jsonCol: String, idCol: String,
                    schema: org.apache.spark.sql.types.StructType,
                    indexRoot: String, streamTag: Option[String] = None)
                   (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs, streamTag) { (batch, _, tag) =>
      graft.sources.JsonIndexLifecycle.append(batch.sparkSession,
        indexRoot, jsonCol, idCol, schema, batch, tag.name)
      batch
    }(handler)

  /** Streaming SFT ingest — the post-training twin of the curation
    * sinks: a live feed of raw chat logs (exports, annotation-tool
    * output) validates, packs, and accumulates into the SFT corpus
    * index PER MICRO-BATCH ([[graft.operators.Chats.ingestSft]]):
    * malformed conversations drop at the validator, survivors land as
    * (id, packed text, n_turns), appends are O(batch) and
    * tag-idempotent (at-least-once replays no-op), and the accumulated
    * corpus is never read on the ingest path —
    * [[graft.operators.Chats.loadSftCorpus]] folds it at training
    * time. Each batch's surviving packed conversations pass to
    * `handler`. */
  def sftIngestSink(chats: DataFrame, jsonCol: String, idCol: String,
                    corpusName: String, streamTag: Option[String] = None)
                   (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(chats, streamTag) { (batch, _, tag) =>
      graft.operators.Chats.ingestSft(batch.sparkSession, batch,
        jsonCol, idCol, corpusName, tag.name)
    }(handler)

  /** [[sftIngestSink]] for TOOL-CALL traces — the continuous twin of
    * the agentic-trace pack path
    * ([[graft.operators.Chats.ingestToolSft]]): per micro-batch the
    * tool PROTOCOL validates (stray/unanswered/duplicate answers,
    * non-JSON arguments, pending trailing calls all drop), survivors
    * render (calls = loss, results = context) and pack, appends are
    * O(batch) and tag-idempotent. Surviving packed traces pass to
    * `handler`. */
  def toolIngestSink(chats: DataFrame, jsonCol: String, idCol: String,
                     corpusName: String, streamTag: Option[String] = None)
                    (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(chats, streamTag) { (batch, _, tag) =>
      graft.operators.Chats.ingestToolSft(batch.sparkSession,
        batch, jsonCol, idCol, corpusName, tag.name)
    }(handler)

  /** Streaming protocol-TRIAGE monitoring — the continuous twin of
    * [[graft.operators.Chats.toolTriageCard]]: each micro-batch of a
    * live agentic-trace feed reports its per-class verdict counts
    * ('valid' or the first-failed protocol rule), so a broken
    * exporter pages the pipeline the batch it breaks instead of
    * silently starving [[toolIngestSink]]'s validator. Stateless —
    * per batch one parse + the triage window/agg stack over the
    * BATCH only; nothing accumulates. The card (with `batch_id`)
    * passes to `handler`. */
  def toolTriageSink(chats: DataFrame, jsonCol: String, idCol: String)
                    (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(chats) { (batch, batchId, _) =>
      graft.operators.Chats.toolTriageCard(
          graft.operators.Chats.toolTurns(batch, jsonCol, idCol), idCol)
        .withColumn("batch_id", lit(batchId))
    }(handler)

  /** Streaming DRIFT monitoring — the continuous twin of
    * [[graft.operators.Curation.unigramDrift]]: each micro-batch of a
    * live document feed reports KL(batch ‖ reference) against a STATIC
    * reference snapshot (the distribution the current model was
    * trained on), so a crawl whose token distribution shifts pages the
    * pipeline instead of silently skewing the next epoch. The
    * reference text tokenizes and counts ONCE at sink construction
    * (materialized — the VOCABULARY-sized (token, cnt) frame), so per
    * batch the cost is O(batch tokens + reference vocabulary); the
    * reference TEXT is never re-scanned (ADVICE r17 — it used to
    * re-tokenize per batch). Nothing accumulates across batches. The
    * one-row report (with `batch_id`) passes to `handler`. Deployments
    * that already persist the reference counts should call
    * [[driftSinkCounts]] directly. */
  def driftSink(docs: DataFrame, textCol: String,
                reference: DataFrame, refTextCol: String)
               (handler: DataFrame => Unit): DataStreamWriter[Row] = {
    // the reference vocabulary is CACHE-OWNED (pinned, eviction-
    // released — the Dedup.cached idiom): sweep() must skip it, and
    // re-opening a sink over the same reference frame reuses the counts
    // instead of re-tokenizing
    val key = (System.identityHashCode(reference.sparkSession),
      s"driftRef:$refTextCol:" +
        s"${reference.queryExecution.analyzed.semanticHash()}")
    val refCounts = graft.operators.GraftCache.getOrBuild(
        "Streams", key) {
      val built = graft.operators.Checkpoints.eager(
        graft.operators.Curation.unigramCounts(reference, refTextCol))
      graft.operators.Checkpoints.pin(built)
      built
    }(graft.operators.Checkpoints.releaseFrame)
    driftSinkCounts(docs, textCol, refCounts)(handler)
  }

  /** Streaming CONTRACT monitoring — the continuous twin of
    * [[graft.operators.Chats.contractDrift]] and the release-card
    * sibling of [[driftSink]]: each micro-batch of a live
    * agentic-trace feed infers its de-facto tool contracts
    * ([[graft.operators.Chats.toolContractInfer]]) and compares them
    * against a STATIC reference inference (the contracts the current
    * model was trained against), emitting the per-tool severity card
    * — so an exporter that drops a required key or flips an argument
    * type pages the pipeline the batch it breaks. The reference
    * corpus infers ONCE at sink construction (cache-owned + pinned,
    * the [[driftSink]] idiom — re-opening a sink over the same
    * reference reuses the frame); per batch the cost is the batch's
    * own inference + a contract-vocabulary-sized compare. The card
    * (with `batch_id`) passes to `handler`. */
  def contractDriftSink(chats: DataFrame, jsonCol: String,
                        idCol: String, reference: DataFrame,
                        refJsonCol: String, refIdCol: String,
                        minPresence: Double = 0.95)
                       (handler: DataFrame => Unit)
  : DataStreamWriter[Row] = {
    val key = (System.identityHashCode(reference.sparkSession),
      s"contractRef:$refJsonCol:$refIdCol:$minPresence:" +
        s"${reference.queryExecution.analyzed.semanticHash()}")
    val refInf = graft.operators.GraftCache.getOrBuild(
        "Streams", key) {
      val built = graft.operators.Checkpoints.eager(
        graft.operators.Chats.toolContractInfer(
          graft.operators.Chats.toolTurns(reference, refJsonCol,
            refIdCol), refIdCol, minPresence))
      graft.operators.Checkpoints.pin(built)
      built
    }(graft.operators.Checkpoints.releaseFrame)
    contractDriftSinkInferred(chats, jsonCol, idCol, refInf,
      minPresence)(handler)
  }

  /** [[contractDriftSink]] against an ALREADY-INFERRED reference
    * contract frame ([[graft.operators.Chats.toolContractInfer]]
    * shape) — the monitoring-loop entry point when the training-set
    * contracts are persisted next to the model. */
  def contractDriftSinkInferred(chats: DataFrame, jsonCol: String,
                                idCol: String, refInf: DataFrame,
                                minPresence: Double = 0.95)
                               (handler: DataFrame => Unit)
  : DataStreamWriter[Row] =
    microBatchSink(chats) { (batch, batchId, _) =>
      graft.operators.Chats.contractDriftCard(
          graft.operators.Chats.contractDrift(refInf,
            graft.operators.Chats.toolContractInfer(
              graft.operators.Chats.toolTurns(batch, jsonCol, idCol),
              idCol, minPresence)))
        .withColumn("batch_id", lit(batchId))
    }(handler)

  /** [[driftSink]] against a PRECOMPUTED (token, cnt) reference frame
    * ([[graft.operators.Curation.unigramCounts]] shape) — the
    * monitoring-loop entry point when the training-corpus vocabulary
    * is already pinned next to the model. Per batch: count the
    * batch's tokens, one vocabulary-sized join, one report agg. */
  def driftSinkCounts(docs: DataFrame, textCol: String,
                      refCounts: DataFrame)
                     (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs) { (batch, batchId, _) =>
      graft.operators.Curation.unigramDriftFromCounts(
          graft.operators.Curation.unigramCounts(batch, textCol), refCounts)
        .withColumn("batch_id", lit(batchId))
    }(handler)

  /** Streaming MANIFEST maintenance — continuous attestation for a
    * continuously-ingested corpus: each micro-batch appends its
    * partial shard manifest (counts, token sums, id ranges, additive
    * mod-2^61−1 fingerprints) tag-idempotently
    * ([[graft.operators.Packing.ingestManifest]]); partials merge
    * exactly at read time because every column is commutative, so the
    * folded manifest equals the batch [[graft.operators.Packing
    * .shardManifest]] over everything ever ingested — the property
    * that lets a training run attest its bytes WITHOUT re-reading
    * them. O(batch) per call. Partials pass to `handler`. */
  def manifestSink(docs: DataFrame, shardCol: String, idCol: String,
                   textCol: String, name: String,
                   streamTag: Option[String] = None)
                  (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(docs, streamTag) { (batch, _, tag) =>
      graft.operators.Packing.ingestManifest(batch.sparkSession, batch,
        shardCol, idCol, textCol, name, tag.name)
    }(handler)

  /** Streaming VECTOR-index maintenance — the realtime tier of the ANN
    * lifecycle (upstream Pinot's mutable vector index assigns consuming
    * rows into the trained structure; FAISS deployments do the same:
    * train centroids offline once, stream arrivals into fixed cells).
    * The IVF index at `indexDir` must already exist
    * ([[graft.operators.Similarity.persistIvfIndex]]); each micro-batch
    * assigns its vectors to their nearest cell against the (tiny)
    * broadcast centroid frame and appends cell-partitioned —
    * O(batch·nCells) dots, and the indexed corpus is never re-read.
    * Batch passes through to `handler`; probes
    * ([[graft.operators.Similarity.ivfTopKWith]] over `loadIvfIndex`)
    * see streamed rows immediately. */
  def vectorIndexSink(vecs: DataFrame, vecCol: String, idCol: String,
                      indexDir: String, streamTag: Option[String] = None)
                     (handler: DataFrame => Unit): DataStreamWriter[Row] =
    microBatchSink(vecs, streamTag) { (batch, _, tag) =>
      graft.operators.Similarity.appendIvfIndex(batch.sparkSession,
        indexDir, batch, idCol, vecCol, tag.name)
      batch
    }(handler)

  /** Ingestion-time rollup: per (keys, bucket) count/sum/min/max, the
    * streaming twin of OlapQueries.q_rollup_ingest. `withWatermark` bounds
    * state; `update` output mode emits refined buckets per micro-batch. */
  def rollup(events: DataFrame, tsCol: String, keys: Seq[String],
             valueCol: String, bucketSec: Long,
             watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(keys.map(col) :+
        window(col(tsCol), s"$bucketSec seconds").getField("start")
          .as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol)).as("sum_val"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"))

  /** Exact-PK streaming dedup (DedupConfig): first arrival wins within the
    * watermark horizon. */
  def dedup(events: DataFrame, tsCol: String, pks: Seq[String],
            watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(pks)

  /** FULL-upsert state row: latest value per PK by event-time. */
  final case class UpsertState(ts: Long, value: Double)
  final case class UpsertKey(userId: Long, eventType: String)
  final case class UpsertEvent(userId: Long, eventType: String, ts: Long,
                               value: Double)
  final case class UpsertOut(userId: Long, eventType: String, ts: Long,
                             value: Double)

  /** Streaming FULL upsert via mapGroupsWithState: newest-by-comparison
    * (here: event-time) wins, out-of-order arrivals ignored — the exact
    * semantics of the reference's comparison-column upsert. */
  def upsertLatest(events: Dataset[UpsertEvent]): Dataset[UpsertOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => UpsertKey(e.userId, e.eventType))
      .mapGroupsWithState[UpsertState, UpsertOut](
        GroupStateTimeout.NoTimeout()) {
        case (key, batch, state: GroupState[UpsertState]) =>
          val prev = state.getOption.getOrElse(UpsertState(Long.MinValue, 0d))
          val best = (batch.map(e => UpsertState(e.ts, e.value)) ++
            Iterator(prev)).maxBy(_.ts)
          state.update(best)
          UpsertOut(key.userId, key.eventType, best.ts, best.value)
      }
  }

  final case class DeletableEvent(userId: Long, eventType: String, ts: Long,
                                  value: Double, deleted: Boolean)
  final case class DeletableOut(userId: Long, eventType: String, ts: Long,
                                value: Double, tombstoned: Boolean)

  /** Streaming FULL upsert with a delete-record column
    * (`UpsertConfig.deleteRecordColumn`): the newest record wins, and if
    * it carries the delete flag the key is TOMBSTONED — emitted with
    * `tombstoned=true` so a downstream view filters it out, while the
    * state survives so an out-of-order older record cannot resurrect the
    * key. A newer live write does revive it (same as the batch
    * `latestViewWithDeletes`). */
  def upsertLatestWithDeletes(events: Dataset[DeletableEvent])
  : Dataset[DeletableOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => UpsertKey(e.userId, e.eventType))
      .mapGroupsWithState[DeletableState, DeletableOut](
        GroupStateTimeout.NoTimeout()) {
        case (key, batch, state: GroupState[DeletableState]) =>
          val prev = state.getOption
            .getOrElse(DeletableState(Long.MinValue, 0d, deleted = false))
          val best = (batch.map(e => DeletableState(e.ts, e.value, e.deleted))
            ++ Iterator(prev)).maxBy(_.ts)
          state.update(best)
          DeletableOut(key.userId, key.eventType, best.ts, best.value,
            best.deleted)
      }
  }
  final case class DeletableState(ts: Long, value: Double, deleted: Boolean)

  /** PARTIAL-upsert state: per-key merged columns under the reference's
    * per-column strategies (UpsertConfig.Strategy — the streaming twin of
    * Upsert.partialUpsert). */
  final case class PartialState(ts: Long, maxV: Double, sumV: Double,
                                lastV: Double, types: Set[String])
  final case class PartialOut(userId: Long, maxV: Double, sumV: Double,
                              lastV: Double, types: Seq[String])

  /** Streaming PARTIAL upsert keyed by userId: MAX / INCREMENT /
    * OVERWRITE(latest-by-ts) / UNION strategies merged incrementally —
    * state is one row per key, watermark-free demo (production adds
    * timeout-based eviction). */
  def upsertPartial(events: Dataset[UpsertEvent]): Dataset[PartialOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .mapGroupsWithState[PartialState, PartialOut](
        GroupStateTimeout.NoTimeout()) {
        case (key, batch, state: GroupState[PartialState]) =>
          val init = state.getOption.getOrElse(
            PartialState(Long.MinValue, Double.MinValue, 0d, 0d, Set.empty))
          val merged = batch.foldLeft(init) { (s, e) =>
            PartialState(
              ts = math.max(s.ts, e.ts),
              maxV = math.max(s.maxV, e.value),
              sumV = s.sumV + e.value,
              lastV = if (e.ts >= s.ts) e.value else s.lastV,
              types = s.types + e.eventType)
          }
          state.update(merged)
          PartialOut(key, merged.maxV, merged.sumV, merged.lastV,
            merged.types.toSeq.sorted)
      }
  }
}
