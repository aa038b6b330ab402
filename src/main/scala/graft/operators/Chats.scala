package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-turn chat corpus preparation — the SFT/instruct-tuning front
  * half every post-training pipeline runs between raw conversation
  * logs and the token loader:
  *
  *   1. [[turns]]: parse chat-JSON documents
  *      (`{"messages":[{"role":…,"content":…},…]}` — the de-facto
  *      interchange shape OpenAI-format exports, ShareGPT dumps, and
  *      most open SFT datasets use) into one row per turn with its
  *      0-based position. One `from_json` + one `posexplode` — the
  *      corpus scans once, nothing shuffles.
  *   2. [[packWithMask]]: render each conversation to ONE training
  *      string with per-turn character spans and a LOSS MASK — SFT
  *      trains only on assistant turns, so the loader needs exact
  *      [start, end) offsets of every turn in the rendered text to
  *      zero the loss elsewhere. Rendering is `<|role|>content\n` per
  *      turn; offsets are a per-conversation running sum of rendered
  *      lengths (one window over the conversation key — conversations
  *      are short, the partition is the natural unit), and the full
  *      text is one ordered `concat_ws`-style aggregation.
  *
  * Everything is integer character arithmetic — spans are
  * oracle-replayable in SQL — and [[tokenSpans]] completes the
  * contract in TOKEN space: per-turn [token_start, token_end) in the
  * packed text's BPE stream (exact because [[graft.operators.Vocab]]'s
  * encode is per-word deterministic and turns break on whitespace).
  *
  * Scale shape: per-conversation windows partition on the id key (a
  * conversation is KBs — no mega-partition risk); the rendered-text
  * rebuild is one keyed agg. No driver state, no collect. */
object Chats {

  /** messages schema of the interchange chat shape. */
  val MessagesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "messages array<struct<role:string,content:string>>")

  /** One row per turn: (idCol, turn_idx, role, content). Documents
    * whose json does not parse (or has no messages array) produce no
    * rows — malformed logs drop, they do not poison the corpus. */
  def turns(df: DataFrame, jsonCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(from_json(col(jsonCol), MessagesSchema)("messages")))
      .select(col(idCol), col("pos").cast("long").as("turn_idx"),
        col("col")("role").as("role"),
        col("col")("content").as("content"))

  /** Rendered form of one turn: `<|role|>content\n`. */
  private def rendered(role: Column, content: Column): Column =
    concat(lit("<|"), role, lit("|>"), coalesce(content, lit("")),
      lit("\n"))

  /** Per-turn spans + loss mask over the rendered conversation:
    * adds `start`/`end` (0-based character offsets, end exclusive) and
    * `mask` (true = contributes to the loss; `lossRoles`, default
    * assistant-only). Offsets are a running sum of rendered lengths in
    * turn order — one window on the conversation key. */
  def turnSpans(turnsDf: DataFrame, idCol: String,
                lossRoles: Seq[String] = Seq("assistant")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    turnsDf
      .withColumn("__rl",
        length(rendered(col("role"), col("content"))).cast("long"))
      .withColumn("start", coalesce(sum(col("__rl")).over(w), lit(0L)))
      .withColumn("end", col("start") + col("__rl"))
      .withColumn("mask", col("role").isin(lossRoles: _*))
      .drop("__rl")
  }

  /** One row per conversation: (idCol, text, n_turns) where `text` is
    * the full rendered conversation (turn-ordered). Combine with
    * [[turnSpans]] — `text.substring(start, end)` is exactly turn i's
    * rendered form, the invariant the spec pins. */
  def packWithMask(turnsDf: DataFrame, idCol: String): DataFrame =
    turnsDf
      .withColumn("__r", rendered(col("role"), col("content")))
      .groupBy(col(idCol))
      .agg(
        concat_ws("", array_sort(collect_list(
          struct(col("turn_idx"), col("__r"))))
          .getField("__r")).as("text"),
        count(lit(1)).as("n_turns"))

  /** TOKEN-aligned turn spans + loss mask — the second half of the SFT
    * contract [[turnSpans]]' char spans only open: the trainer's loss
    * mask lives in TOKEN space, so the loader needs each turn's
    * [token_start, token_end) in the BPE stream of the packed text.
    *
    * The conversion leans on one provable invariant: every rendered
    * turn ends with `\n` and [[graft.functions.TextAnalysis.tokens]]
    * splits on whitespace, so no token ever crosses a turn boundary —
    * and BPE segments word-by-word — so
    *
    *   bpeEncode(packed text) == per-turn bpeEncode streams
    *                             concatenated in turn order
    *
    * (spec-pinned). Token offsets therefore come WITHOUT re-scanning
    * the packed text: encode each turn's rendered form, count its
    * subwords, and running-sum the counts over the conversation window
    * — the exact token-space twin of [[turnSpans]]' char arithmetic.
    *
    * Adds `n_tok`, `token_start`, `token_end` (0-based, end exclusive)
    * and `mask` (true = the turn's tokens contribute to the loss).
    * Mask parity with the char spans is structural: both key on
    * `role ∈ lossRoles` per turn.
    *
    * Scale shape: the encode is one per-row projection (codegen
    * replace chain for small merge tables; the broadcast-vocab tier
    * past [[Vocab.bpeEncode]]'s `exprChainMax` — no corpus shuffle
    * either way) plus the same per-conversation window [[turnSpans]]
    * pays. KB-sized partitions, no driver state. */
  def tokenSpans(turnsDf: DataFrame, idCol: String,
                 merges: Seq[(String, String)],
                 lossRoles: Seq[String] = Seq("assistant"),
                 wordPattern: String = "^[a-z0-9]+$"): DataFrame = {
    val withR = turnsDf.withColumn("__rt",
      rendered(col("role"), col("content")))
    val enc = Vocab.bpeEncode(withR, "__rt", merges, wordPattern,
      outCol = "__sub")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    enc
      .withColumn("n_tok", size(col("__sub")).cast("long"))
      .withColumn("token_start",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("token_end", col("token_start") + col("n_tok"))
      .withColumn("mask", col("role").isin(lossRoles: _*))
      .drop("__rt", "__sub")
  }

  /** Structural validation — the gate SFT trainers enforce before a
    * conversation may become a training example:
    *
    *   - every role ∈ {system, user, assistant};
    *   - `system` only at turn 0 (one optional leading system turn);
    *   - after it, user/assistant STRICTLY alternate starting with
    *     user (no doubled speakers);
    *   - the last turn is an assistant turn (something to learn from).
    *
    * Returns one row per conversation: (idCol, n_turns, valid). One
    * lag window on the conversation key + one keyed agg. */
  def validateTurns(turnsDf: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("turn_idx"))
    val prev = lag(col("role"), 1).over(w)
    val okTurn =
      col("role").isin("system", "user", "assistant") &&
        (col("role") =!= "system" || col("turn_idx") === 0) &&
        // the first non-system turn is user; after that speakers
        // alternate, which the pairwise predicate enforces transitively
        when(prev.isNull, col("role").isin("system", "user"))
          .when(prev === "system", col("role") === "user")
          .otherwise(col("role") =!= prev)
    turnsDf
      // a NULL role must not validate: the raw predicate is SQL NULL
      // there and min(cast) would IGNORE it — coalesce to a hard fail
      .withColumn("__ok", coalesce(okTurn, lit(false)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_turns"),
        (min(col("__ok").cast("int")) === 1 &&
          max(struct(col("turn_idx"), col("role")))("role")
            === "assistant").as("valid"))
  }

  /** Preference-pair preparation — the DPO/RLHF-reward data shape: a
    * shared PROMPT (the conversation so far) plus two candidate
    * assistant completions, where the trainer computes loss only on
    * the completion region of each branch. Renders the prompt turns
    * exactly as [[packWithMask]] (so SFT and preference data share one
    * template), appends each completion as an assistant turn, and
    * emits `response_start` — the character offset where BOTH
    * completions begin (= rendered prompt length; the loss boundary a
    * DPO loader needs). Rows whose prompt json is malformed drop, as
    * in [[turns]]. One parse + one projection — no shuffle beyond the
    * input's. */
  def preferencePairs(df: DataFrame, idCol: String, promptJsonCol: String,
                      chosenCol: String, rejectedCol: String): DataFrame = {
    val msgs = from_json(col(promptJsonCol), MessagesSchema)("messages")
    // gate on the PARSED array, not the rendered string: concat_ws
    // folds a null array to "" — a malformed prompt would otherwise
    // survive as an empty-prompt pair
    df.select(col(idCol), msgs.as("__m"),
        col(chosenCol).as("__c"), col(rejectedCol).as("__r"))
      .filter(col("__m").isNotNull)
      .withColumn("prompt_text", concat_ws("",
        transform(col("__m"), m => rendered(m("role"), m("content")))))
      .select(col(idCol), col("prompt_text"),
        concat(col("prompt_text"),
          rendered(lit("assistant"), col("__c"))).as("chosen_text"),
        concat(col("prompt_text"),
          rendered(lit("assistant"), col("__r"))).as("rejected_text"),
        length(col("prompt_text")).cast("long").as("response_start"))
  }

  /** BEST-OF-N selection — rejection-sampling / distillation prep: of
    * `n` scored candidate completions per prompt, keep the best and
    * report the decision margin (best − runner-up; null for single-
    * candidate prompts — no evidence). Deterministic: ties break on
    * the candidate STRING ascending, so the same pool always selects
    * the same winner on any cluster. One keyed window over the prompt
    * key (pools are n-sized — no skew risk); emits
    * (idCol, best, best_score, n_candidates, margin). */
  def bestOfN(df: DataFrame, idCol: String, candidateCol: String,
              scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col(scoreCol).desc, col(candidateCol))
    df.select(col(idCol), col(candidateCol), col(scoreCol))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__next", lead(col(scoreCol), 1).over(w))
      .withColumn("__n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))))
      .filter(col("__rk") === 1)
      .select(col(idCol), col(candidateCol).as("best"),
        col(scoreCol).as("best_score"),
        col("__n").as("n_candidates"),
        (col(scoreCol) - col("__next")).as("margin"))
  }

  /** PROMPT-level dedup — the SFT hygiene step between collection and
    * training: corpora assembled from many sources repeat prompts
    * (the same instruction scraped or exported twice), and training
    * on repeats both overweights them and leaks across splits. Keeps
    * ONE conversation per distinct prompt key — the highest-`scoreCol`
    * one (quality rating, reward score), ties broken by id ascending
    * (string form). One keyed window; the prompt key should be the
    * RENDERED prompt prefix ([[preferencePairs]]' `prompt_text` or
    * [[packWithMask]] text up to the first assistant span) so
    * whitespace-identical prompts collide. */
  def dedupeByPrompt(df: DataFrame, idCol: String, promptCol: String,
                     scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(promptCol))
      .orderBy(col(scoreCol).desc, col(idCol).cast("string"))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** GROUP-RELATIVE ADVANTAGE — the data-side step of GRPO-style
    * preference optimization (group-relative policy optimization,
    * Shao et al. 2024 "DeepSeekMath" §4.1): for each prompt's group
    * of sampled completions, advantage_i = (r_i − mean(r)) / std(r)
    * with POPULATION std (ddof=0, the reference implementations'
    * np.std). Zero-variance groups (every sample scored identically,
    * including singletons) carry no signal — advantage 0.0, matching
    * the (r−mean)→0 numerator rather than an epsilon hack.
    *
    * Determinism at any parallelism: the window sums ride as
    * DECIMAL(18,6) (scores beyond 6 fractional digits round at entry
    * — rewards are model scores, 6dp is the repo's cross-engine
    * contract) so Σr and Σr² are order-free and exact; one double
    * cast, division, and sqrt at the end are IEEE-determined from
    * those exact sums. ONE unordered window over the prompt key —
    * groups are sample-count-sized (n≤64 in practice), no skew
    * partition, no join, no shuffle beyond the keyed exchange.
    * All input columns ride along. */
  def groupAdvantage(df: DataFrame, idCol: String,
                     scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val sc = col(scoreCol).cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val s1 = sum(sc).over(w).cast("double")
    val s2 = sum(sc * sc).over(w).cast("double")
    val n = count(lit(1)).over(w)
    val nn = n.cast("double")
    val mean = s1 / nn
    val varp = greatest(s2 / nn - mean * mean, lit(0.0))
    // Zero variance is detected STRUCTURALLY on the exact decimal —
    // min==max over the group — not by comparing the derived double
    // std to 0.0: a constant group with fractional 6dp scores (every
    // score 0.1, say) can yield a tiny positive varp after the double
    // casts, which would turn the documented exact 0.0 advantage into
    // ~1e-8 noise (ADVICE r16). The reported group_std is forced to
    // exactly 0.0 in that case for the same reason.
    val constGroup = min(sc).over(w) === max(sc).over(w)
    val std = when(constGroup, lit(0.0)).otherwise(sqrt(varp))
    df.withColumn("n_samples", n)
      .withColumn("group_mean", mean)
      .withColumn("group_std", std)
      .withColumn("advantage",
        when(col("group_std") === 0.0, lit(0.0))
          .otherwise((col(scoreCol).cast("double") - col("group_mean")) /
            col("group_std")))
  }

  /** Per-conversation QUALITY flags — the alignment-data cleaning
    * pass between validation and training (refusal-bearing and
    * degenerate assistant responses dilute an SFT set): per
    * conversation — turn counts, total/mean assistant response
    * length, `short_frac` (assistant turns under `shortLen` chars —
    * the "ok."-reply degenerate class), and `refusal` (any assistant
    * turn containing a blocklisted phrase as a TOKEN sequence —
    * [[Curation.phraseHit]]'s matching, so "i cannot" never fires
    * inside another word). One codegen projection + one keyed agg. */
  def qualityFlags(turnsDf: DataFrame, idCol: String,
                   refusalPhrases: Seq[String],
                   shortLen: Int = 10): DataFrame = {
    val isA = col("role") === "assistant"
    val clen = length(coalesce(col("content"), lit("")))
    turnsDf.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_turns"),
        sum(isA.cast("long")).as("n_assistant"),
        sum(when(isA, clen.cast("long")).otherwise(lit(0L)))
          .as("asst_chars"),
        sum(when(isA && clen < shortLen, 1L).otherwise(0L))
          .as("n_short"),
        max((isA && Curation.phraseHit(coalesce(col("content"),
          lit("")), refusalPhrases)).cast("int")).as("__r"))
      .withColumn("refusal", col("__r") === 1)
      .withColumn("short_frac",
        when(col("n_assistant") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_short").cast("double") /
            col("n_assistant"), 6)))
      .withColumn("mean_asst_len",
        when(col("n_assistant") === 0, lit(null).cast("double"))
          .otherwise(round(col("asst_chars").cast("double") /
            col("n_assistant"), 6)))
      .drop("__r")
  }

  /** Preference PAIRS from scored candidate pools — the standard
    * construction when no human pairwise labels exist: best vs
    * runner-up per pool, margin = the score gap (the same decision
    * margin [[bestOfN]] reports). Pools with fewer than 2 candidates
    * drop (no pair to form). Deterministic like [[bestOfN]]: the pool
    * orders by (score desc, candidate string asc), so the same pool
    * always yields the same pair at any parallelism. One keyed window;
    * emits (idCol, chosen, rejected, margin, n_candidates). */
  def pairsFromPools(df: DataFrame, idCol: String, candidateCol: String,
                     scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col(scoreCol).desc, col(candidateCol))
    df.select(col(idCol), col(candidateCol), col(scoreCol))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__nc", lead(col(candidateCol), 1).over(w))
      .withColumn("__ns", lead(col(scoreCol), 1).over(w))
      .withColumn("__n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))))
      .filter(col("__rk") === 1 && col("__nc").isNotNull)
      .select(col(idCol), col(candidateCol).as("chosen"),
        col("__nc").as("rejected"),
        (col(scoreCol) - col("__ns")).as("margin"),
        col("__n").as("n_candidates"))
  }

  /** DPO/RLHF pair HYGIENE AUDIT — the checks a preference dataset
    * needs before it trains a reward model or a DPO policy, as one
    * summary row:
    *
    *   - `n_identical`: pairs whose chosen and rejected texts are
    *     byte-equal (pure noise — the loss gradient is zero but the
    *     pair still dilutes batches);
    *   - `len_margin_corr`: Pearson correlation between the chosen −
    *     rejected LENGTH gap and the margin — the classic
    *     reward-hacking signal (a strongly positive value means the
    *     judge rewards verbosity, and the trained policy will too);
    *   - pool-size skew: `max_pool` / `avg_pool` over `poolCol` (few
    *     giant pools dominate gradient estimates) and
    *     `max_pairs_per_prompt` / `n_prompts` (the same prompt pair
    *     repeated overweights it, [[dedupeByPrompt]]'s concern).
    *
    * Determinism: margins ride as 1e6-scaled longs (6-dp score
    * contract, as [[groupAdvantage]]; the long moment sums bound
    * |margin| at ~3e3 per pair before `syy_u` can overflow at extreme
    * corpus sizes — reward margins are score gaps, far inside that)
    * and all five correlation moments
    * are EXACT integer sums emitted as columns (`sx`, `sy_u`, `sxx`,
    * `sxy_u`, `syy_u` — order-free, bit-checkable); the correlation is
    * one IEEE formula over those exact sums, rounded 6 dp, null when
    * either variable is structurally constant (min == max — no
    * epsilon). Scale shape: one keyed agg (per prompt) + one global
    * agg; products accumulate in DECIMAL(38,0), nothing driver-side. */
  def dpoAudit(pairs: DataFrame, promptCol: String, chosenCol: String,
               rejectedCol: String, marginCol: String,
               poolCol: String = "n_candidates"): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = (length(col(chosenCol)) - length(col(rejectedCol)))
      .cast("long")
    val yu = (col(marginCol)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
      .cast("long")
    val perPrompt = pairs.groupBy(col(promptCol))
      .agg(count(lit(1)).as("__pp"))
      .agg(count(lit(1)).as("n_prompts"),
        max(col("__pp")).as("max_pairs_per_prompt"))
    val agg = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum((col(chosenCol) <=> col(rejectedCol)).cast("long"))
        .as("n_identical"),
      max(col(poolCol).cast("long")).as("max_pool"),
      round(sum(col(poolCol).cast("long")).cast("double") /
        count(lit(1)), 6).as("avg_pool"),
      sum(x).as("sx"), sum(yu).as("sy_u"),
      sum((x.cast(d38) * x.cast(d38))).cast("long").as("sxx"),
      sum((x.cast(d38) * yu.cast(d38))).cast("long").as("sxy_u"),
      sum((yu.cast(d38) * yu.cast(d38))).cast("long").as("syy_u"),
      min(x).as("__xmin"), max(x).as("__xmax"),
      min(yu).as("__ymin"), max(yu).as("__ymax"))
    val n = col("n_pairs").cast("double")
    val cov = n * col("sxy_u").cast("double") -
      col("sx").cast("double") * col("sy_u").cast("double")
    val vx = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = n * col("syy_u").cast("double") -
      col("sy_u").cast("double") * col("sy_u").cast("double")
    agg.crossJoin(perPrompt)
      .withColumn("len_margin_corr",
        when(col("__xmin") === col("__xmax") ||
          col("__ymin") === col("__ymax"), lit(null).cast("double"))
          .otherwise(round(cov / (sqrt(vx) * sqrt(vy)), 6)))
      .select(col("n_pairs"), col("n_identical"), col("n_prompts"),
        col("max_pairs_per_prompt"), col("max_pool"), col("avg_pool"),
        col("sx"), col("sy_u"), col("sxx"), col("sxy_u"), col("syy_u"),
        col("len_margin_corr"))
  }

  // ---- continuous SFT ingest (the streaming twin of the pack path) --

  private def sftSpec(spark: org.apache.spark.sql.SparkSession,
                      name: String): graft.sources.IncrementalIndex.Spec = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad sft corpus name: $name")
    graft.sources.IncrementalIndex.Spec(
      graft.GraftSession.appDir(spark, "sft_idx"),
      s"${name}_sft", None)
  }

  /** Ingest ONE batch of raw chat logs into the accumulated SFT corpus
    * `name`: parse → [[validateTurns]] (malformed and rule-breaking
    * conversations drop — the trainer never sees them) →
    * [[packWithMask]] → tag-idempotent append of (id, text, n_turns)
    * to the corpus index (the [[graft.sources.IncrementalIndex]]
    * protocol: an at-least-once replay of a committed tag no-ops).
    * Returns the batch's SURVIVING packed conversations. O(batch) per
    * call — the accumulated corpus is never read on the ingest path;
    * [[loadSftCorpus]] folds it at training time. Ids store as
    * strings (the index is schema-generic); cast back on load if
    * needed. */
  def ingestSft(spark: org.apache.spark.sql.SparkSession,
                batch: DataFrame, jsonCol: String, idCol: String,
                name: String, batchTag: String): DataFrame = {
    // parse once per batch (optimization round 19): the validator and
    // the pack both read the parse — unsnapshotted, the chat parse (the
    // operator's dominant cost) ran twice per micro-batch. The packed
    // frame checkpoints LAZILY: the index-append write materializes it
    // (the incrementalExact protocol); a replayed tag (no write runs)
    // materializes via count().
    val t = Checkpoints.eager(turns(batch, jsonCol, idCol))
    val valid = validateTurns(t, idCol).filter(col("valid"))
      .select(col(idCol))
    val packed = Checkpoints.lazily(
      packWithMask(t, idCol).join(valid, idCol)
        .select(col(idCol).cast("string").as("id"), col("text"),
          col("n_turns")))
    val sp = sftSpec(spark, name)
    if (!graft.sources.IncrementalIndex.hasTag(sp, batchTag))
      graft.sources.IncrementalIndex.append(spark, sp, packed, batchTag)
    else packed.count()
    packed
  }

  /** [[ingestSft]] for TOOL-CALL traces — one batch of raw agentic
    * logs: parse ([[toolTurns]]) → [[validateToolTurns]] (protocol
    * violations drop: stray/unanswered/duplicate answers, non-JSON
    * arguments, pending trailing calls) → [[renderToolCalls]] (calls
    * serialize into the assistant turn, results into context turns) →
    * [[packWithMask]] → tag-idempotent append of (id, text, n_turns).
    * Same O(batch) / replay-no-op contract as [[ingestSft]]; the
    * packed corpus loads with [[loadSftCorpus]] under the same name
    * space. */
  def ingestToolSft(spark: org.apache.spark.sql.SparkSession,
                    batch: DataFrame, jsonCol: String, idCol: String,
                    name: String, batchTag: String): DataFrame = {
    // same snapshot + lazy-append shape as [[ingestSft]] (optimization
    // round 19): one tool parse per batch instead of two
    val t = Checkpoints.eager(toolTurns(batch, jsonCol, idCol))
    val valid = validateToolTurns(t, idCol).filter(col("valid"))
      .select(col(idCol))
    val packed = Checkpoints.lazily(
      packWithMask(renderToolCalls(t, idCol), idCol).join(valid, idCol)
        .select(col(idCol).cast("string").as("id"), col("text"),
          col("n_turns")))
    val sp = sftSpec(spark, name)
    if (!graft.sources.IncrementalIndex.hasTag(sp, batchTag))
      graft.sources.IncrementalIndex.append(spark, sp, packed, batchTag)
    else packed.count()
    packed
  }

  /** The accumulated SFT corpus: (id, text, n_turns) across every
    * committed ingest batch. Empty (not an error) before the first
    * append. */
  def loadSftCorpus(spark: org.apache.spark.sql.SparkSession,
                    name: String): DataFrame = {
    graft.sources.IncrementalIndex.loadOrEmpty(spark, sftSpec(spark, name),
      "id", "id string, text string, n_turns bigint")
  }

  def dropSftCorpus(spark: org.apache.spark.sql.SparkSession,
                    name: String): Unit =
    graft.sources.IncrementalIndex.drop(sftSpec(spark, name))

  /** Context-budget trimming with WHOLE-TURN boundaries — the standard
    * long-conversation policy: keep the leading system turn (if any)
    * plus the LONGEST TAIL of turns whose rendered length, with the
    * system turn, fits `budget` characters (chars here; a token loader
    * applies the same shape post-BPE). Dropping the oldest exchanges
    * first preserves the most recent context — exactly what chat
    * trainers and servers do. Input is [[turnSpans]] output (needs
    * start/end); adds `kept` and, for kept turns, re-based
    * `new_start`/`new_end` offsets (null on dropped turns). Tail sums
    * are one descending window; the suffix property (tail sums
    * decrease) makes the kept set contiguous by construction. */
  def fitBudget(spansDf: DataFrame, idCol: String, budget: Long)
  : DataFrame = {
    require(budget >= 0, s"negative budget $budget")
    val rl = col("end") - col("start")
    val isSys = col("role") === "system" && col("turn_idx") === 0
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("turn_idx").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    val withSums = spansDf
      .withColumn("__rl", rl)
      .withColumn("__sys", isSys)
      // rendered length of the system turn (0 when absent)
      .withColumn("__sysLen",
        max(when(col("__sys"), col("__rl")).otherwise(lit(0L))).over(wId))
      // Σ rendered length from this turn to the conversation end,
      // excluding the system turn (it is budgeted separately)
      .withColumn("__tail",
        sum(when(col("__sys"), lit(0L)).otherwise(col("__rl")))
          .over(wDesc))
    val kept = col("__sys") ||
      (col("__tail") + col("__sysLen") <= budget)
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    withSums
      .withColumn("kept", kept)
      .withColumn("new_start",
        when(col("kept"), coalesce(sum(
          when(col("kept"), col("__rl")).otherwise(lit(0L))).over(wAsc),
          lit(0L))))
      .withColumn("new_end",
        when(col("kept"), col("new_start") + col("__rl")))
      .drop("__rl", "__sys", "__sysLen", "__tail")
  }

  // ---- tool-call / agentic traces (r17) ----

  /** messages schema of the TOOL-CALL interchange shape — the OpenAI
    * function-calling export, the de-facto format for agentic SFT
    * traces: assistant turns may carry `tool_calls` (each a call id
    * plus either the genuine NESTED form `function:{name,arguments}`
    * — the shape `type:"function"` entries actually export — or the
    * flattened `name`/`arguments` variant many internal dumps use),
    * and `tool`-role turns answer one call via `tool_call_id`.
    * [[toolTurns]] coalesces the two forms, nested taking precedence
    * only where the flat field is absent. A plain role+content
    * conversation parses too (the extra fields read null), so this is
    * a strict superset of [[MessagesSchema]]. */
  val ToolMessagesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "messages array<struct<role:string,content:string," +
        "tool_calls:array<struct<id:string,name:string," +
        "arguments:string,function:struct<name:string," +
        "arguments:string>>>,tool_call_id:string>>")

  /** [[turns]] for tool-call traces: one row per turn — (idCol,
    * turn_idx, role, content, tool_calls, tool_call_id). Each emitted
    * call is NORMALIZED to the flat {id, name, arguments} struct:
    * nested `function.name`/`function.arguments` (the genuine OpenAI
    * export) fill in wherever the flat variant's fields are absent,
    * so every downstream consumer ([[validateToolTurns]],
    * [[renderToolCalls]], the audits) reads one shape. Malformed
    * json drops exactly as in [[turns]]. */
  def toolTurns(df: DataFrame, jsonCol: String, idCol: String)
  : DataFrame =
    df.select(col(idCol),
        posexplode(from_json(col(jsonCol),
          ToolMessagesSchema)("messages")))
      .select(col(idCol), col("pos").cast("long").as("turn_idx"),
        col("col")("role").as("role"),
        col("col")("content").as("content"),
        transform(col("col")("tool_calls"), c => struct(
          c("id").as("id"),
          coalesce(c("name"), c("function")("name")).as("name"),
          coalesce(c("arguments"), c("function")("arguments"))
            .as("arguments"))).as("tool_calls"),
        col("col")("tool_call_id").as("tool_call_id"))

  /** [[validateTurns]] for the tool-call protocol — the gate an
    * agentic-trace corpus needs before a conversation may train:
    *
    *   - every role ∈ {system, user, assistant, tool}; `system` only
    *     at turn 0; the first non-system turn is `user`;
    *   - `tool_calls` only on assistant turns; each declared call
    *     carries a non-null id and name and its `arguments` string
    *     PARSES AS JSON; call ids are distinct within the turn;
    *   - `tool_call_id` on tool turns and ONLY tool turns;
    *   - an assistant turn that declared calls is followed by tool
    *     turns; an assistant turn without calls is followed by user;
    *     tool turns are followed by tool or assistant — so tool
    *     results sit contiguously between the calling assistant turn
    *     and the assistant turn that consumes them;
    *   - per calling turn, the multiset of answered `tool_call_id`s
    *     equals the declared call ids exactly (every call answered
    *     once, no stray or duplicate answers; answer ORDER is free —
    *     results of parallel calls arrive in any order);
    *   - the last turn is an assistant turn with no pending calls.
    *
    * Returns (idCol, n_turns, valid). Scale shape: one lag window +
    * one running-max window on the conversation key, then two keyed
    * aggs (per calling-block, per conversation) — conversations are
    * KBs, no skew, no driver state. The block key is the most recent
    * assistant turn index, so the answered-vs-declared compare never
    * materializes anything beyond one sorted id list per block. */
  def validateToolTurns(turnsDf: DataFrame, idCol: String): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("turn_idx"))
    val wRun = wOrd.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, org.apache.spark.sql.expressions.Window
      .currentRow)
    val callIds = transform(col("tool_calls"), c => c("id"))
    val emptyIds = array().cast("array<string>")
    val withFlags = turnsDf
      .withColumn("__hc", coalesce(size(col("tool_calls")) > 0,
        lit(false)))
      .withColumn("__wf", col("tool_calls").isNull ||
        (forall(col("tool_calls"), c =>
          c("id").isNotNull && c("name").isNotNull &&
            try_parse_json(c("arguments")).isNotNull) &&
          size(array_distinct(callIds)) === size(col("tool_calls"))))
    val prevRole = lag(col("role"), 1).over(wOrd)
    val prevCalls = lag(col("__hc"), 1).over(wOrd)
    val okTurn =
      col("role").isin("system", "user", "assistant", "tool") &&
        (col("role") =!= "system" || col("turn_idx") === 0) &&
        (!col("__hc") || col("role") === "assistant") &&
        ((col("role") === "tool") === col("tool_call_id").isNotNull) &&
        col("__wf") &&
        when(prevRole.isNull, col("role").isin("system", "user"))
          .when(prevRole === "system", col("role") === "user")
          .when(prevRole === "user", col("role") === "assistant")
          .when(prevRole === "assistant" && prevCalls,
            col("role") === "tool")
          .when(prevRole === "assistant", col("role") === "user")
          .otherwise(col("role").isin("tool", "assistant"))
    withFlags
      // a NULL role must not validate (exporters drop fields): the
      // raw predicate is SQL NULL there and min(cast) would IGNORE
      // it — coalesce to a hard fail, matching toolTriage's 'role'
      // verdict so the spec-pinned valid ⇔ fail_rule-null holds on
      // malformed input too
      .withColumn("__ok", coalesce(okTurn, lit(false)))
      .withColumn("__blk", max(when(col("role") === "assistant",
        col("turn_idx"))).over(wRun))
      .groupBy(col(idCol), col("__blk"))
      .agg(count(lit(1)).as("__n"),
        min(col("__ok").cast("int")).as("__okmin"),
        first(when(col("role") === "assistant",
            coalesce(sort_array(callIds), emptyIds)),
          ignoreNulls = true).as("__decl"),
        sort_array(collect_list(when(col("role") === "tool",
          col("tool_call_id")))).as("__ans"),
        max(struct(col("turn_idx"), col("role"), col("__hc")))
          .as("__lt"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_turns"),
        (min(col("__okmin")) === 1 &&
          min((coalesce(col("__decl"), emptyIds) === col("__ans"))
            .cast("int")) === 1 &&
          max(col("__lt"))("role") === "assistant" &&
          !max(col("__lt"))("__hc")).as("valid"))
  }

  /** PROTOCOL-VIOLATION TRIAGE — the attrition funnel for agentic
    * corpora: [[validateToolTurns]] says only (valid?); a corpus owner
    * staring at "40% of traces dropped" needs WHY. Per conversation,
    * the FIRST FAILED RULE by a fixed severity order (each class named
    * for the exporter bug it indicts):
    *
    *   1. `role`         — role outside {system,user,assistant,tool},
    *                       system not at turn 0, `tool_calls` on a
    *                       non-assistant turn, or `tool_call_id`
    *                       present/absent on the wrong role;
    *   2. `args_parse`   — a declared call with null id/name or
    *                       arguments that don't parse as JSON;
    *   3. `dup_call_id`  — duplicate ids among a turn's declared
    *                       calls, or one call answered twice;
    *   4. `stray_answer` — a tool turn answering an id its block
    *                       never declared (wrong-id exporter bug);
    *   5. `unanswered`   — a declared call with no answer in its
    *                       block;
    *   6. `transition`   — a role-lattice transition break (e.g. two
    *                       user turns in a row) not already explained
    *                       by 3–5;
    *   7. `pending_final`— the trace doesn't end with a call-free
    *                       assistant turn.
    *
    * With `dup_call_id` its own class, the remaining multiset
    * declared-vs-answered equality decomposes exactly into
    * stray/unanswered SET differences, so `fail_rule IS NULL` ⇔
    * [[validateToolTurns]].valid (spec-pinned). Returns (idCol,
    * n_turns, valid, fail_rule). Same scale shape as the validator:
    * one lag window + one running-max window + two keyed aggs. */
  def toolTriage(turnsDf: DataFrame, idCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy(col(idCol)).orderBy(col("turn_idx"))
    val wRun = wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val callIds = transform(col("tool_calls"), c => c("id"))
    val emptyIds = array().cast("array<string>")
    val withFlags = turnsDf
      .withColumn("__hc", coalesce(size(col("tool_calls")) > 0,
        lit(false)))
      .withColumn("__rArgs", col("tool_calls").isNotNull &&
        !forall(col("tool_calls"), c =>
          c("id").isNotNull && c("name").isNotNull &&
            try_parse_json(c("arguments")).isNotNull))
      .withColumn("__rDup", col("tool_calls").isNotNull &&
        size(array_distinct(callIds)) =!= size(col("tool_calls")))
    val prevRole = lag(col("role"), 1).over(wOrd)
    val prevCalls = lag(col("__hc"), 1).over(wOrd)
    val rRole = coalesce(
      !col("role").isin("system", "user", "assistant", "tool") ||
        (col("role") === "system" && col("turn_idx") =!= 0) ||
        (col("__hc") && col("role") =!= "assistant") ||
        ((col("role") === "tool") =!= col("tool_call_id").isNotNull),
      lit(true))
    val rTrans = coalesce(
      !when(prevRole.isNull, col("role").isin("system", "user"))
        .when(prevRole === "system", col("role") === "user")
        .when(prevRole === "user", col("role") === "assistant")
        .when(prevRole === "assistant" && prevCalls,
          col("role") === "tool")
        .when(prevRole === "assistant", col("role") === "user")
        .otherwise(col("role").isin("tool", "assistant")),
      lit(true))
    val blocks = withFlags
      .withColumn("__fRole", rRole)
      .withColumn("__fTrans", rTrans)
      .withColumn("__blk", max(when(col("role") === "assistant",
        col("turn_idx"))).over(wRun))
      .groupBy(col(idCol), col("__blk"))
      .agg(count(lit(1)).as("__n"),
        max(col("__fRole")).as("__bRole"),
        max(col("__rArgs")).as("__bArgs"),
        max(col("__rDup")).as("__bDup"),
        max(col("__fTrans")).as("__bTrans"),
        first(when(col("role") === "assistant",
            coalesce(sort_array(callIds), emptyIds)),
          ignoreNulls = true).as("__decl"),
        sort_array(collect_list(when(col("role") === "tool",
          col("tool_call_id")))).as("__ans"),
        max(struct(col("turn_idx"), col("role"), col("__hc")))
          .as("__lt"))
      .withColumn("__decl", coalesce(col("__decl"), emptyIds))
      .withColumn("__bAnsDup",
        size(col("__ans")) =!= size(array_distinct(col("__ans"))))
      .withColumn("__bStray",
        size(array_except(array_distinct(col("__ans")),
          col("__decl"))) > 0)
      .withColumn("__bUnans",
        size(array_except(col("__decl"), col("__ans"))) > 0)
    blocks.groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_turns"),
        max(col("__bRole")).as("__r1"),
        max(col("__bArgs")).as("__r2"),
        max(col("__bDup") || col("__bAnsDup")).as("__r3"),
        max(col("__bStray")).as("__r4"),
        max(col("__bUnans")).as("__r5"),
        max(col("__bTrans")).as("__r6"),
        max(col("__lt")).as("__l"))
      .withColumn("__r7", !(col("__l")("role") === "assistant" &&
        !col("__l")("__hc")))
      .withColumn("fail_rule",
        when(col("__r1"), "role")
          .when(col("__r2"), "args_parse")
          .when(col("__r3"), "dup_call_id")
          .when(col("__r4"), "stray_answer")
          .when(col("__r5"), "unanswered")
          .when(col("__r6"), "transition")
          .when(col("__r7"), "pending_final"))
      .withColumn("valid", col("fail_rule").isNull)
      .select(col(idCol), col("n_turns"), col("valid"),
        col("fail_rule"))
  }

  /** Corpus-level TRIAGE CARD over [[toolTriage]] — per verdict class
    * ('valid' or the first-failed rule), conversation and turn counts:
    * the one-page answer to "where did my agentic corpus go?". One
    * keyed agg over the triage frame. */
  def toolTriageCard(turnsDf: DataFrame, idCol: String): DataFrame =
    toolTriage(turnsDf, idCol)
      .groupBy(coalesce(col("fail_rule"), lit("valid")).as("verdict"))
      .agg(count(lit(1)).as("n_convs"), sum(col("n_turns"))
        .as("n_turns"))

  /** [[fitBudget]] for tool-call traces — context trimming that NEVER
    * splits a tool-call block: dropping a calling assistant turn while
    * keeping its tool results (or vice versa) breaks the protocol a
    * validated trace satisfies, so the trim unit is the BLOCK — a
    * calling assistant turn together with its contiguous tool answers
    * (every other turn is its own unit). Takes the [[toolTurns]] frame
    * of a VALIDATED trace, renders via [[renderToolCalls]] +
    * [[turnSpans]], and applies [[fitBudget]]'s rule at unit
    * granularity: the leading system turn always keeps, plus the
    * longest TAIL of whole units whose rendered length fits `budget`
    * with it; offsets re-base over surviving turns. A unit keeps iff
    * the running tail at its FIRST member fits — tails decrease with
    * turn order, so kept units form a suffix exactly as in
    * [[fitBudget]], just never cutting inside a block. Three windows
    * on the conversation key, no join, no driver state. */
  def fitBudgetTools(toolTurnsDf: DataFrame, idCol: String,
                     budget: Long): DataFrame = {
    require(budget >= 0, s"negative budget $budget")
    val W = org.apache.spark.sql.expressions.Window
    val wRun = W.partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val spans = turnSpans(renderToolCalls(toolTurnsDf, idCol), idCol)
    val rl = col("end") - col("start")
    val isSys = col("role") === "system" && col("turn_idx") === 0
    val wDesc = W.partitionBy(col(idCol)).orderBy(col("turn_idx").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val wId = W.partitionBy(col(idCol))
    val wAsc = W.partitionBy(col(idCol)).orderBy(col("turn_idx"))
      .rowsBetween(W.unboundedPreceding, -1)
    val withSums = spans
      .withColumn("__blk", max(when(col("role") === "assistant",
        col("turn_idx"))).over(wRun))
      .withColumn("__unit", when(col("role") === "tool", col("__blk"))
        .otherwise(col("turn_idx")))
      .withColumn("__rl", rl)
      .withColumn("__sys", isSys)
      .withColumn("__sysLen",
        max(when(col("__sys"), col("__rl")).otherwise(lit(0L)))
          .over(wId))
      .withColumn("__tail",
        sum(when(col("__sys"), lit(0L)).otherwise(col("__rl")))
          .over(wDesc))
      // the unit's decision tail = the tail at its FIRST member (the
      // max over the unit, tails being descending in turn order)
      .withColumn("__unitTail", max(col("__tail"))
        .over(W.partitionBy(col(idCol), col("__unit"))))
    val kept = col("__sys") ||
      (col("__unitTail") + col("__sysLen") <= budget)
    withSums
      .withColumn("kept", kept)
      .withColumn("new_start",
        when(col("kept"), coalesce(sum(
          when(col("kept"), col("__rl")).otherwise(lit(0L))).over(wAsc),
          lit(0L))))
      .withColumn("new_end",
        when(col("kept"), col("new_start") + col("__rl")))
      .drop("__blk", "__unit", "__rl", "__sys", "__sysLen", "__tail",
        "__unitTail")
  }

  /** Per-call REQUIRED-ARGUMENT audit against a per-tool contract —
    * the tier above [[validateToolTurns]]'s arguments-parse rule: each
    * declared call's arguments must be a JSON OBJECT carrying the
    * tool's required keys (extra keys allowed — additive tool schemas
    * are the norm; value TYPES are the tool runtime's concern, key
    * presence is the data-quality gate). `contract` maps tool name →
    * required keys; a call to a tool OUTSIDE the contract reports
    * `missing = ['__unknown_tool']` (an agent calling an undeclared
    * tool is a protocol bug, not a pass), and non-object/unparseable
    * arguments report every required key missing. Returns one row per
    * declared call: (idCol, turn_idx, call_id, tool_name, missing
    * [sorted], args_ok). One explode + one broadcast join on tool
    * name + a set difference — no corpus shuffle beyond the
    * explode. */
  def toolArgsAudit(toolTurnsDf: DataFrame, idCol: String,
                    contract: Map[String, Seq[String]]): DataFrame = {
    val spark = toolTurnsDf.sparkSession
    import spark.implicits._
    val req = contract.toSeq.toDF("tool_name", "__req")
    val calls = toolTurnsDf.filter(col("tool_calls").isNotNull)
      .select(col(idCol), col("turn_idx"),
        explode(col("tool_calls")).as("__c"))
      .select(col(idCol), col("turn_idx"),
        col("__c")("id").as("call_id"),
        col("__c")("name").as("tool_name"),
        json_object_keys(col("__c")("arguments")).as("__keys"))
    calls.join(broadcast(req), Seq("tool_name"), "left")
      .withColumn("missing",
        when(col("__req").isNull, array(lit("__unknown_tool")))
          .otherwise(sort_array(array_except(col("__req"),
            coalesce(col("__keys"), array().cast("array<string>"))))))
      .withColumn("args_ok",
        col("__req").isNotNull && col("__keys").isNotNull &&
          size(col("missing")) === 0)
      .select(col(idCol), col("turn_idx"), col("call_id"),
        col("tool_name"), col("missing"), col("args_ok"))
  }

  /** Per-call argument-VALUE TYPE audit — the one-expression tier
    * above [[toolArgsAudit]]'s key-presence check: the contract now
    * states each required key's JSON type (`tool → (key, type)` with
    * type ∈ string | number | boolean | object | array | null), so a
    * `url` that arrives as a number or a `k` that arrives as a string
    * fails loudly before the trace trains an agent to emit it. Per
    * declared call, every contract key probes via variant
    * introspection (`try_parse_json` → `try_variant_get` →
    * `schema_of_variant`, canonicalized to the six JSON type names —
    * all ints/decimals/doubles are `number`); verdict entries are
    * `key:expected:actual` with actual `missing` for an absent key
    * and `unparseable` when the arguments string isn't JSON; a call
    * to a tool outside the contract reports `bad =
    * ['__unknown_tool']`. Keys must be plain identifiers (they ride
    * into a `$.key` path literal). Returns one row per declared
    * call: (idCol, turn_idx, call_id, tool_name, bad [sorted],
    * types_ok). ONE explode + one codegen-built projection (the
    * contract unrolls into literal-path expressions — no join, no
    * extra shuffle). */
  /** `schema_of_variant`'s DDL string canonicalized to the six JSON
    * type names (every int/decimal/double width is `number`; a SQL
    * null — absent key / unparseable document — reads `missing`).
    * The cross-engine contract: DuckDB's `json_type` values map onto
    * the same six names. */
  private def canonicalVariantType(c: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column =
    when(c.isNull, lit("missing"))
      .when(c === "STRING", lit("string"))
      .when(c === "BOOLEAN", lit("boolean"))
      .when(c === "VOID", lit("null"))
      .when(c.startsWith("OBJECT"), lit("object"))
      .when(c.startsWith("ARRAY"), lit("array"))
      .when(c.startsWith("DECIMAL") ||
        c.isin("BIGINT", "DOUBLE", "FLOAT", "INT", "SMALLINT",
          "TINYINT"), lit("number"))
      .otherwise(lit("other"))

  def toolArgTypes(toolTurnsDf: DataFrame, idCol: String,
                   contract: Map[String, Seq[(String, String)]])
  : DataFrame = {
    require(contract.nonEmpty, "empty type contract")
    val allowed =
      Set("string", "number", "boolean", "object", "array", "null")
    contract.foreach { case (t, ks) =>
      ks.foreach { case (k, e) =>
        require(allowed(e), s"contract $t.$k: unknown type '$e'")
        require(k.matches("[A-Za-z0-9_]+"),
          s"contract $t: key '$k' is not a plain identifier")
      }
    }
    val emptyBad = array().cast("array<string>")
    val v = try_parse_json(col("__args"))
    def actualOf(key: String) =
      when(v.isNull, lit("unparseable"))
        .otherwise(canonicalVariantType(schema_of_variant(
          try_variant_get(v, "$." + key, "variant"))))
    // each distinct key's probe (parse → variant path → canonicalize)
    // is HOISTED into one column and referenced from every verdict
    // branch — the inlined form repeated the whole chain twice per
    // (tool, key) and grew codegen quadratically with contract size
    val allKeys = contract.values.flatten.map(_._1).toSet.toSeq.sorted
    def actCol(k: String) = col(s"__act_$k")
    val badByTool = contract.toSeq.sortBy(_._1).map { case (t, ks) =>
      val entries = ks.map { case (k, e) =>
        when(actCol(k) =!= e,
          array(concat(lit(s"$k:$e:"), actCol(k))))
          .otherwise(emptyBad)
      }
      val arr = if (entries.isEmpty) emptyBad
        else sort_array(concat(entries: _*))
      t -> arr
    }
    val bad = badByTool.foldRight(
        array(lit("__unknown_tool")): org.apache.spark.sql.Column) {
      case ((t, arr), els) =>
        when(col("tool_name") === t, arr).otherwise(els)
    }
    val exploded = toolTurnsDf.filter(col("tool_calls").isNotNull)
      .select(col(idCol), col("turn_idx"),
        explode(col("tool_calls")).as("__c"))
      .select(col(idCol), col("turn_idx"),
        col("__c")("id").as("call_id"),
        col("__c")("name").as("tool_name"),
        col("__c")("arguments").as("__args"))
    allKeys.foldLeft(exploded) { (d, k) =>
        d.withColumn(s"__act_$k", actualOf(k))
      }
      .withColumn("bad", bad)
      .withColumn("types_ok", size(col("bad")) === 0)
      .select(col(idCol), col("turn_idx"), col("call_id"),
        col("tool_name"), col("bad"), col("types_ok"))
  }

  /** Conversation-TREE flattening — branched chat exports (regenerated
    * answers, edited prompts: ShareGPT/LMSYS-style trees where a
    * message may have SIBLINGS) become one LINEAR conversation per
    * LEAF: the root→leaf path, root first. Input is one row per
    * message node with an id column and a nullable parent column
    * (both integral — cast to long internally); every other column
    * rides through. Output adds (`conv_id` = the leaf's node id,
    * `turn_idx` = 0-based depth) — feed straight into the
    * [[turnSpans]]/[[packWithMask]] stack (each path is a normal
    * conversation; shared prefixes duplicate across sibling paths by
    * design — dedupe with [[dedupeByPrompt]] downstream if the
    * training recipe wants one path per branch point).
    *
    * Scale shape: POINTER DOUBLING on the parent pointers — each
    * round joins the state to itself (anc ← anc's anc, path segments
    * concatenate), so a depth-d tree resolves in O(log d) equi-joins,
    * never a per-level driver loop over a deep thread; per-round
    * localCheckpoint truncates lineage exactly like
    * [[graft.operators.Dedup.clusters]]. Leaves come from one
    * anti-join against the distinct parent set; the final explode is
    * one posexplode + one id-keyed join back to the node payload. A
    * dangling parent id (no node row carries it) is DROPPED from the
    * path — the first node that actually exists becomes depth 0, so
    * `turn_idx` stays contiguous 0-based (the contract
    * [[validateTurns]]' system-at-turn-0 rule reads; ADVICE r18 — the
    * miss is detected inside the doubling join, no extra pass). A
    * parent CYCLE fails loudly after ceil(log2(n))+1 rounds — enough
    * for ANY acyclic forest of n nodes, and early enough that a
    * cycle's doubling paths stay ~2n elements instead of 2^maxIter
    * (`maxIter` is only a cap on that bound). */
  def treePaths(nodes: DataFrame, idCol: String, parentCol: String,
                maxIter: Int = 40): DataFrame = {
    val emptyPath = array().cast("array<bigint>")
    // checkpoint the two-column projection ONCE: it feeds the node
    // count, the initial doubling state, the distinct-parent set, and
    // the leaf anti-join — without this a costly derived `nodes`
    // lineage would re-scan four times (ADVICE r18)
    val base = Checkpoints.eager(
      nodes.select(col(idCol).cast("long").as("__id"),
        col(parentCol).cast("long").as("__anc")))
    var state = base.withColumn("__path",
      when(col("__anc").isNotNull, array(col("__anc")))
        .otherwise(emptyPath))
    // an acyclic forest of n nodes has depth ≤ n, and doubling
    // resolves depth d in ceil(log2(d)) rounds — so any pointer still
    // unresolved after ceil(log2(n))+1 rounds is a CYCLE; bounding by
    // that (not maxIter alone) keeps the per-round doubled __path at
    // ~2n elements worst case instead of 2^maxIter (a 2-cycle under a
    // bare maxIter=40 would OOM long before the require fired)
    val nNodes = math.max(base.count(), 2L)
    val rounds = math.min(maxIter,
      (64 - java.lang.Long.numberOfLeadingZeros(nNodes - 1)) + 1)
    var remaining = 1L
    var i = 0
    while (remaining > 0 && i < rounds) {
      val a = state.select(col("__id").as("__aid"),
        col("__anc").as("__aanc"), col("__path").as("__apath"))
      // invariant: whenever __anc is non-null, __path[0] == __anc —
      // so a join MISS (__aid null) means the unresolved head IS a
      // dangling id: resolve by dropping it (only heads can dangle;
      // every deeper element arrived via a successful join)
      state = Checkpoints.eager(
        state.join(a, col("__anc") === col("__aid"), "left")
          .select(col("__id"),
            when(col("__anc").isNull || col("__aid").isNull,
              lit(null).cast("long"))
              .otherwise(col("__aanc")).as("__anc"),
            when(col("__anc").isNull, col("__path"))
              .when(col("__aid").isNull,
                slice(col("__path"), lit(2), size(col("__path")) - 1))
              .otherwise(concat(coalesce(col("__apath"), emptyPath),
                col("__path"))).as("__path")))
      remaining = state.filter(col("__anc").isNotNull).limit(1).count()
      i += 1
    }
    require(remaining == 0,
      s"treePaths: parent chain unresolved after $i doubling rounds " +
        s"(enough for any acyclic forest of $nNodes nodes) — a " +
        "parent cycle")
    val parents = base.filter(col("__anc").isNotNull)
      .select(col("__anc").as("__pid")).distinct()
    val leaves = base.select(col("__id"))
      .join(parents, col("__id") === col("__pid"), "left_anti")
    state.join(leaves, "__id")
      .select(col("__id").as("conv_id"),
        posexplode(concat(col("__path"), array(col("__id"))))
          .as(Seq("turn_idx", "__node")))
      .join(nodes, col("__node") === nodes(idCol))
      .drop("__node")
      .withColumn("turn_idx", col("turn_idx").cast("long"))
  }

  /** CONTRACT INFERENCE — the discovery twin of [[toolArgTypes]]:
    * given a raw trace corpus, recover per tool what its de-facto
    * argument contract IS — per (tool, key), how often the key
    * appears among the tool's parseable OBJECT arguments
    * (`presence`), the MAJORITY observed JSON type (`major_type`,
    * ties broken (count desc, type asc)), the majority's share
    * (`type_frac`), and `required` = presence ≥ `minPresence`. Run
    * it on a healthy corpus, feed the (key, major_type) rows of the
    * required keys straight into [[toolArgTypes]] to audit the next
    * drop — contract drift surfaces as falling presence or a
    * majority-type flip. Types probe per observed key via dynamic
    * variant paths (`$.key` — keys that aren't plain identifiers
    * still count toward presence but read type `missing`).
    * Denominators: `n_calls` = all declared calls of the tool,
    * `n_objects` = those whose arguments parse as a JSON object.
    * One explode of calls + one explode of observed keys + keyed
    * aggs + a (tool, key)-keyed top-1 window (partitions are
    * vocabulary-sized) + one broadcast join of the tool-sized
    * totals. */
  def toolContractInfer(toolTurnsDf: DataFrame, idCol: String,
                        minPresence: Double = 0.95): DataFrame = {
    require(minPresence >= 0 && minPresence <= 1,
      s"minPresence $minPresence not in [0,1]")
    val calls = toolTurnsDf.filter(col("tool_calls").isNotNull)
      .select(explode(col("tool_calls")).as("__c"))
      .select(col("__c")("name").as("tool_name"),
        col("__c")("arguments").as("__args"))
      // dedupe keys PER CALL: a duplicate key inside one object
      // ({"a":1,"a":2}) must count its call once — n_with_key counts
      // CALLS, so presence never exceeds 1.0 and `required` never
      // over-triggers; engines also disagree on duplicate emission
      // (ADVICE r18)
      .withColumn("__keys",
        array_distinct(json_object_keys(col("__args"))))
    val totals = calls.groupBy(col("tool_name"))
      .agg(count(lit(1)).as("n_calls"),
        sum(col("__keys").isNotNull.cast("long")).as("n_objects"))
    val perKey = calls.filter(col("__keys").isNotNull)
      .select(col("tool_name"), explode(col("__keys")).as("key"),
        col("__args"))
      .withColumn("__t", canonicalVariantType(schema_of_variant(
        try_variant_get(try_parse_json(col("__args")),
          concat(lit("$."), col("key")), "variant"))))
    val typed = perKey
      .groupBy(col("tool_name"), col("key"), col("__t"))
      .agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tool_name"), col("key"))
      .orderBy(col("__n").desc, col("__t"))
    val major = typed.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("tool_name"), col("key"),
        col("__t").as("major_type"), col("__n"))
    val keyCounts = perKey.groupBy(col("tool_name"), col("key"))
      .agg(count(lit(1)).as("n_with_key"))
    keyCounts.join(major, Seq("tool_name", "key"))
      .join(broadcast(totals), "tool_name")
      .withColumn("presence", round(col("n_with_key").cast("double") /
        col("n_objects"), 6))
      .withColumn("type_frac", round(col("__n").cast("double") /
        col("n_with_key"), 6))
      .withColumn("required", col("presence") >= minPresence)
      .select(col("tool_name"), col("key"), col("n_calls"),
        col("n_objects"), col("n_with_key"), col("presence"),
        col("major_type"), col("type_frac"), col("required"))
  }

  /** TOOL-CHAIN transitions — the Markov view of agentic behavior:
    * per conversation the declared tool names form a sequence in
    * (turn, declaration-position) order; emit every (src → dst)
    * transition count with `__start`/`__end` sentinels (so "which
    * tool opens", "which tool is terminal", and "search→fetch vs
    * fetch→search" all read off one frame — the card an agent-data
    * release publishes next to [[toolStats]]). Returns (src, dst,
    * n, n_convs). One posexplode + one lag window on the
    * conversation key + one keyed agg.
    *
    * Chains assume a TRIAGE-CLEAN corpus: a declared call whose
    * normalized name is null (the exporter shipped neither the flat
    * `name` nor `function.name` — such traces fail [[toolTriage]] as
    * `args_parse`) is EXCLUDED from sequencing rather than minting a
    * null dst and, through the lag, a phantom mid-conversation
    * `__start` (ADVICE r18). */
  def toolChains(toolTurnsDf: DataFrame, idCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val calls = toolTurnsDf.filter(col("tool_calls").isNotNull)
      .select(col(idCol), col("turn_idx"),
        posexplode(col("tool_calls")).as(Seq("__p", "__c")))
      .select(col(idCol), col("turn_idx"), col("__p"),
        col("__c")("name").as("__tool"))
      .filter(col("__tool").isNotNull)
    val wOrd = W.partitionBy(col(idCol))
      .orderBy(col("turn_idx"), col("__p"))
    val wDesc = W.partitionBy(col(idCol))
      .orderBy(col("turn_idx").desc, col("__p").desc)
    val seqd = calls
      .withColumn("__src",
        coalesce(lag(col("__tool"), 1).over(wOrd), lit("__start")))
      .withColumn("__last", row_number().over(wDesc) === 1)
    val trans = seqd.select(col("__src").as("src"),
        col("__tool").as("dst"), col(idCol))
      .unionAll(seqd.filter(col("__last"))
        .select(col("__tool").as("src"), lit("__end").as("dst"),
          col(idCol)))
    trans.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col(idCol)).as("n_convs"))
  }

  /** CONTRACT DRIFT — the comparison [[toolContractInfer]]'s scaladoc
    * promises: given TWO inferred-contract snapshots (last release's
    * healthy corpus vs this week's drop), answer per (tool, key) what
    * moved. One full-outer join on (tool_name, key) — the frames are
    * VOCABULARY-sized (tools × keys), so this is the
    * [[Curation.unigramDriftTermsFromCounts]] shape: no corpus
    * re-scan, the expensive inference runs once per snapshot and every
    * report reads the frames. Emits per (tool_name, key):
    *
    *   - `presence_a`/`presence_b` and `presence_delta` (b − a, 6 dp;
    *     null when the key exists on one side only);
    *   - `major_type_a`/`major_type_b` and `type_flip` (both present,
    *     majority types differ — the exporter-changed-a-field bug);
    *   - `required_a`/`required_b`;
    *   - `status`, severity-ordered: `appeared` (new key) /
    *     `disappeared` (dropped key) / `type_flip` /
    *     `required_change` (presence crossed the threshold) /
    *     `stable`.
    *
    * Null-safe throughout — a one-sided row never reads as a flip. */
  def contractDrift(oldC: DataFrame, newC: DataFrame): DataFrame = {
    val keep = Seq("presence", "major_type", "required")
    val a = oldC.select(col("tool_name") +: col("key") +:
      keep.map(c => col(c).as(c + "_a")): _*)
    val b = newC.select(col("tool_name") +: col("key") +:
      keep.map(c => col(c).as(c + "_b")): _*)
    a.join(b, Seq("tool_name", "key"), "full_outer")
      .withColumn("presence_delta",
        round(col("presence_b") - col("presence_a"), 6))
      .withColumn("type_flip",
        coalesce(col("major_type_a") =!= col("major_type_b"),
          lit(false)))
      .withColumn("status",
        when(col("presence_a").isNull, "appeared")
          .when(col("presence_b").isNull, "disappeared")
          .when(col("type_flip"), "type_flip")
          .when(col("required_a") =!= col("required_b"),
            "required_change")
          .otherwise("stable"))
  }

  /** Per-tool SEVERITY roll-up over [[contractDrift]] — the one-line-
    * per-tool release card: key counts per side, how many keys
    * appeared / disappeared / type-flipped / changed requiredness,
    * the largest |presence move| among keys present on both sides
    * (6 dp; null when no key overlaps), and a `severity` verdict —
    * `breaking` when a key that was REQUIRED in the old contract
    * disappeared or type-flipped (callers conforming to the old
    * contract now fail), `warn` on any other change, `ok` otherwise.
    * One keyed agg over the vocabulary-sized drift frame. */
  def contractDriftCard(drift: DataFrame): DataFrame =
    drift.groupBy(col("tool_name"))
      .agg(sum(col("presence_a").isNotNull.cast("long"))
          .as("n_keys_a"),
        sum(col("presence_b").isNotNull.cast("long")).as("n_keys_b"),
        sum((col("status") === "appeared").cast("long"))
          .as("n_appeared"),
        sum((col("status") === "disappeared").cast("long"))
          .as("n_disappeared"),
        sum(col("type_flip").cast("long")).as("n_type_flips"),
        sum((col("status") === "required_change").cast("long"))
          .as("n_required_changes"),
        round(max(abs(col("presence_delta"))), 6)
          .as("max_abs_presence_delta"),
        max((coalesce(col("required_a"), lit(false)) &&
          (col("status") === "disappeared" || col("type_flip")))
          .cast("int")).as("__breaking"))
      .withColumn("severity",
        when(col("__breaking") === 1, "breaking")
          .when(col("n_appeared") + col("n_disappeared") +
            col("n_type_flips") + col("n_required_changes") > 0,
            "warn")
          .otherwise("ok"))
      .drop("__breaking")

  /** CHAIN-TRANSITION DRIFT — the monitoring twin of [[toolChains]]:
    * treat each (src → dst) transition as a TOKEN with its count and
    * compute the exact-integer smoothed KL report between two
    * snapshots via [[Curation.unigramDriftFromCounts]] — "did this
    * week's agent traffic change shape?" next to the per-release
    * [[contractDrift]]. Inputs are two [[toolChains]] frames; the
    * join is transition-vocabulary-sized (|tools|² + sentinels),
    * never corpus-sized. Returns the one-row drift report
    * (n_a, n_b, v_union, kl_u, kl).
    *
    * The transition token is LENGTH-PREFIXED —
    * `len(src) ':' src '→' dst` — so it is injective for ARBITRARY
    * tool names: with a bare separator, a tool literally named
    * "a→b" would alias ("a→b" → "c") with ("a" → "b→c") and
    * silently corrupt the counts (tool names are exporter strings,
    * not identifiers). */
  def chainDrift(oldChains: DataFrame, newChains: DataFrame)
  : DataFrame = {
    def tok(d: DataFrame) = d.select(
      concat(length(col("src")).cast("string"), lit(":"),
        col("src"), lit("→"), col("dst")).as("token"),
      col("n").as("cnt"))
    Curation.unigramDriftFromCounts(tok(oldChains), tok(newChains))
  }

  /** TOOL-USAGE data card — per tool name across a trace corpus: how
    * often each tool is called, by how many conversations, how many
    * calls got answered, and the mean arguments / result payload
    * sizes (the numbers an agentic-SFT data card reports, and the
    * triage view for a raw pre-validation corpus — a tool with
    * n_answered ≪ n_calls is a broken exporter). One explode of the
    * per-turn call lists + one conversation-local equi-join of
    * results to their calls on (conversation, call id) + one keyed
    * agg — no skew (call ids are conversation-scoped), nothing
    * driver-side. Averages round 6 dp; `avg_result_len` is null for
    * a tool never answered. Duplicate answers to one call id (an
    * invalid trace) multiply through the join — run after
    * [[validateToolTurns]] for card-grade numbers. */
  def toolStats(toolTurnsDf: DataFrame, idCol: String): DataFrame = {
    val calls = toolTurnsDf.filter(col("tool_calls").isNotNull)
      .select(col(idCol), explode(col("tool_calls")).as("__c"))
      .select(col(idCol), col("__c")("id").as("__cid"),
        col("__c")("name").as("tool_name"),
        length(col("__c")("arguments")).cast("long").as("__alen"))
    val results = toolTurnsDf.filter(col("role") === "tool")
      .select(col(idCol), col("tool_call_id").as("__cid"),
        length(coalesce(col("content"), lit(""))).cast("long")
          .as("__rlen"))
    val answered = sum(col("__rlen").isNotNull.cast("long"))
    calls.join(results, Seq(idCol, "__cid"), "left")
      .groupBy(col("tool_name"))
      .agg(count(lit(1)).as("n_calls"),
        countDistinct(col(idCol)).as("n_convs"),
        answered.as("n_answered"),
        round(sum(col("__alen")).cast("double") / count(lit(1)), 6)
          .as("avg_args_len"),
        when(answered === 0, lit(null).cast("double"))
          .otherwise(round(sum(col("__rlen")).cast("double") /
            answered, 6)).as("avg_result_len"))
  }

  /** Collapse a tool-trace turns frame ([[toolTurns]] output) to the
    * standard (idCol, turn_idx, role, content) shape with the protocol
    * payload serialized INTO the content, so [[turnSpans]],
    * [[packWithMask]], and [[tokenSpans]] apply UNCHANGED:
    *
    *   - assistant turns append `<|call:name|>arguments` per declared
    *     call, in declaration order — the model must learn to EMIT its
    *     calls, so they stay inside the assistant turn and under the
    *     role-keyed loss mask;
    *   - tool turns become `[tool_call_id] content` — results are
    *     CONTEXT the model conditions on, never loss, which the
    *     default `lossRoles = assistant` already states.
    *
    * The serialized forms contain no newline, so the per-turn
    * `\n`-terminated rendering (and with it [[tokenSpans]]' no-token-
    * crosses-a-turn-boundary invariant) holds for tool traces exactly
    * as for plain chats. Run [[validateToolTurns]] FIRST — rendering
    * assumes a protocol-clean trace. */
  def renderToolCalls(toolTurnsDf: DataFrame, idCol: String): DataFrame =
    toolTurnsDf.select(col(idCol), col("turn_idx"), col("role"),
      when(col("role") === "assistant" &&
          coalesce(size(col("tool_calls")) > 0, lit(false)),
        concat(coalesce(col("content"), lit("")),
          concat_ws("", transform(col("tool_calls"), c =>
            concat(lit("<|call:"), c("name"), lit("|>"),
              c("arguments"))))))
        .when(col("role") === "tool",
          concat(lit("["), col("tool_call_id"), lit("] "),
            coalesce(col("content"), lit(""))))
        .otherwise(col("content")).as("content"))
}
