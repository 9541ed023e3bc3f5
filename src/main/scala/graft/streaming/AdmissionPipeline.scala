package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CleaningQueries, DedupIndex, IndexSet, LlmQueries,
  Par, SubstringIndex}

/** Composed streaming ADMISSION pipeline — the ingest-side counterpart
  * of batch l29: every admission gate a training-data ingest runs at
  * the door, in one entry point, emitting a per-document DECISION
  * (`admit` / `near_duplicate` / `verbatim_repeat` (opt-in) /
  * `contaminated` / `repetitive` / `low_quality` / `model_filtered`
  * (opt-in, l34's trained-weight quality arm))
  * instead of six separate flag streams a caller must reconcile. The
  * reference's analog is its consumer → validator → dual-sink shape
  * (every message lands with a verdict); this is that shape for the
  * document corpus, with the LLM-pipeline gates as the validators.
  *
  * Architecture — where each kind of state lives:
  *
  *  - CROSS-BATCH semantics (exact-copy suppression within the
  *    retry/replay horizon) stay in the STREAM operator:
  *    [[StreamingDedup.withinWatermark]] is the only stateful stage,
  *    keyed on the 32-byte content hash. A duplicate payload never
  *    reaches the decision join at all — the same contract as L17, with
  *    batch L1 the historical backstop after state eviction.
  *  - The PER-DOC decision composes INSIDE `foreachBatch`, where the
  *    microbatch is a plain DataFrame: the near-dup and contamination
  *    screens are the gates' own STATELESS halves
  *    ([[StreamingNearDup.screenRaw]] / [[StreamingDecontam.screenRaw]]
  *    — identical joins, identical thresholds, so the composed decision
  *    cannot drift from the standalone gates), and the quality arm is
  *    the shared [[LlmQueries.qualityKeep]] rule (l6/l19/l29's gate).
  *    Each screen yields a bounded distinct-id frame joined back LEFT,
  *    so a doc flagged by several gates gets ONE reason by the same
  *    precedence as l19/l29: duplicate-family dominates quality.
  *
  * Scale shape: every screen is an index equi-join (eval-set-sized gram
  * index; banded corpus index; the opt-in span and hash indexes).
  * Each index is streamed once per batch against broadcast batch-side
  * keys, with no index-wide shuffle or aggregation: the ownership
  * guards and de-duplication run on the HITS, never on an index. The
  * reason join keys on doc_id within the microbatch, against broadcast
  * flags — per-batch cost is O(batch × index-hit-rate) plus one scan
  * of each index.
  */
object AdmissionPipeline {

  /** Gate inputs: the persisted corpus band index (L18), holdout gram
    * index (L30), and optionally the corpus span-gram index
    * ([[StreamingSubstring]], l33's gate form — opt-in because its
    * index is corpus-sized and a deployment scopes it to a recency
    * window; None runs the four-gate pipeline unchanged). */
  final case class Gates(neardup: StreamingNearDup.Index,
      holdoutGrams: DataFrame,
      corpusSpans: Option[DataFrame] = None,
      classifier: Option[Map[Int, Long]] = None,
      /** Opt-in exact-hash backstop against the LANDED corpus (the
        * persisted [[graft.operators.DedupIndex]] artifact, column
        * `h`): L17's stream state only covers the watermark horizon,
        * and the L18 sketch cannot see sub-3-token docs or trim-only
        * copies (l29's belt-and-braces argument, at ingest). One
        * hash-keyed probe per batch; None runs the pipeline
        * unchanged. */
      exactHashes: Option[DataFrame] = None,
      /** Opt-in SEMANTIC decontamination for batches carrying an
        * embedding column `v` (the persisted
        * [[StreamingSemanticDecontam]] eval-vector index): l42's
        * paraphrase screen at the door — the one decontam modality the
        * gram index cannot see. Rows without an embedding (or a batch
        * with no `v` column at all) pass this arm untouched; flagged
        * rows read `contaminated`, same label as the gram arm — both
        * are the same claim about eval leakage, detected differently.
        * None runs the pipeline unchanged. */
      evalVecs: Option[DataFrame] = None,
      /** Opt-in Gopher DOC-QUALITY screen (l69's seven published rules
        * — word count, mean word length, symbol ratio, bullet/ellipsis
        * lines, alpha share, stopword floor — the non-repetition half
        * of Rae et al. 2021 Table A1; the repetition half already runs
        * in the `repetitive` arm). A doc passing [[LlmQueries
        * .qualityKeep]] but tripping any ladder rule lands
        * `low_quality` (the same claim, one label — release parity via
        * [[graft.operators.ReleaseFlow.Screens]]). Opt-in because the
        * rules assume web-document shapes (the published 50-word floor
        * alone would reject half this synthetic corpus). Row-local —
        * no join, no shuffle. */
      docQuality: Boolean = false)

  /** Opt-in PRE-GATE cleaning — the C4/CCNet ordering: clean text
    * FIRST, then let every downstream screen (exact dedup, near-dup,
    * contamination, quality, repetition) judge the text a release
    * would actually ship. Applies batch l31's line rules then l32's
    * redaction ([[CleaningQueries.c4KeptText]] /
    * [[CleaningQueries.piiRedact]] — the DQs' own column functions, so
    * ingest and batch cannot drift), re-measuring `n_chars` on the
    * cleaned text. Row-local (HOF filter + three codegen'd regexes) —
    * adds no join or shuffle to the per-batch cost.
    *
    * Two consequences the spec pins, both deliberate:
    *  - dedup state keys on the CLEANED content hash, so two pages
    *    identical after boilerplate-line drop suppress as exact copies
    *    even when their dropped junk differed;
    *  - an admitted doc lands REDACTED — PII never reaches the corpus
    *    partition, closing the gap where `reason=admit` rows carried
    *    raw text that l32 would later have to scrub.
    *
    * Opt-in because the rules assume prose-with-punctuation pages; a
    * corpus of single-line unpunctuated records (this repo's synthetic
    * documents) would clean to empty strings and land low_quality —
    * correct C4 behavior, wrong default for every caller. */
  def cleanse(df: DataFrame): DataFrame =
    df.withColumn("text", {
        // the FULL C4 battery, page rules included: a page failing the
        // page bar (carries 'lorem ipsum' or '{', or keeps < 3 lines)
        // cleans to NULL — not "" — so it lands low_quality WITH a
        // decision row and never shares a dedup-state key with other
        // dropped pages (batch l31 page-drops the identical documents;
        // before this, ingest shipped pages the batch pipeline drops)
        val lines = split(col("text"), "\n")
        val kept = CleaningQueries.c4KeptLines(lines)
        when(CleaningQueries.c4PageKeep(col("text"), kept),
          CleaningQueries.piiRedact(concat_ws("\n", kept)))
      })
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** THE gate pin: one checkpoint of a batch plus every screen's
    * per-doc pre-computation (`n_chars` if absent, [[LlmQueries
    * .PreTokens]], then [[LlmQueries.withGatePre]]). [[decide]] reads
    * its batch from about seven arm subtrees, so an unpinned lineage (a
    * stateful dedup, a cure) re-runs per arm; on the pin the arms and
    * the index appends project the computed columns (bit-identical
    * to recomputing them). Keeps every row — a null-text doc still
    * lands `low_quality`. Drop [[GatePreCols]] before a frame lands.
    *
    * The pin's one job starts NOW, and `plan` gets the pinned frame on
    * the calling thread WHILE that job runs: it resolves the gates and
    * builds [[decide]], and gatePin builds the physical plan of its
    * result — driver-only work (index listing, analysis, optimization)
    * that would otherwise sit between the pin and decide's first job;
    * the later action on the result reuses that plan. `plan` must run
    * no job that reads the pinned frame: its result returns only once
    * the pin has landed (also when `plan` throws), so every consumer's
    * first job reads the materialized pin. That is the contract the
    * eager pin existed for: AQE races an unmaterialized pin's cache
    * with parallel task waves (~10x the pin's CPU on r1's gate). */
  private[graft] def gatePin(df: DataFrame)(
      plan: DataFrame => DataFrame): DataFrame = {
    val pinned = LlmQueries.withGatePre(withNChars(df)
        .withColumn(LlmQueries.PreTokens, split(lower(col("text")), "\\s+")))
      .localCheckpoint(eager = false) // lazy: Par.deferred lands it first
    // the one job an eager checkpoint runs inline: computing every
    // partition caches it and truncates the lineage
    val landed = Par.deferred(Seq(() => pinned.queryExecution.toRdd.count()))
    Par.joinAfter(landed) {
      val out = plan(pinned)
      out.queryExecution.executedPlan
      out
    }
  }

  private[graft] val GatePreCols = Seq(LlmQueries.PreTokens,
    LlmQueries.PreShs, LlmQueries.PreSig, LlmQueries.PreGrams)

  /** Screen-arm bits in the fused flag word ([[decide]]): one tagged
    * union + ONE doc_id aggregation replaces the former five per-arm
    * distinct+left-join rounds — decision-identical (a bit tests true/
    * false exactly where the old per-arm flag read true/null, and the
    * `when` chain treats null and false the same), but the composed
    * plan pays one exchange + one join instead of five of each. The
    * gates are choreography-bound at shard scale (BenchGate round 19:
    * sub-second stage rounds dominate the wall), so fewer rounds is
    * the measured lever; at 100 TB the fused form also shuffles the
    * flag rows once instead of five times. */
  private val NdBit = 1L  // near_duplicate (band sketch)
  private val CtBit = 2L  // contaminated (holdout grams)
  private val CsBit = 4L  // contaminated (semantic, opt-in)
  private val VrBit = 8L  // verbatim_repeat (span index, opt-in)
  private val XdBit = 16L // corpus_duplicate (exact hash, opt-in)

  /** The per-batch decision frame: `batch`'s columns plus `reason`.
    * Pure function of (batch, gates) — spec-tested directly and reused
    * by both entry points and releases. Precedence: near_duplicate >
    * verbatim_repeat (when a corpus span index is configured) >
    * contaminated > low_quality > repetitive > admit (duplicate-family
    * first, mirroring l19/l29 so quality counts describe admissible
    * docs; the repetition screen — batch [[LlmQueries.l27]]'s published
    * Gopher 2-gram rule, the SAME shared threshold — runs AFTER the
    * vocabulary/length rule because the top-2-gram share is only
    * meaningful past the length bar: a 4-token fragment has a ~33%
    * share by pigeonhole, and labeling it `repetitive` would bury the
    * actual defect. A doc that passes quality but repeats one 2-gram —
    * the generation-loop artifact the Gopher rule exists for — is
    * exactly what this arm catches, since such docs are long and
    * vocabulary-diverse enough to admit otherwise). The repetition arm
    * is row-local (native `graft_topgram_stats`), so unlike the index
    * screens it costs no join and screens each doc against itself —
    * stateless and trivially streaming-safe. */
  def decide(batch: DataFrame, gates: Gates): DataFrame = {
    // batch-ownership guard: a crash REPLAY under [[startLive]] screens
    // against an index already holding the batch's OWN append — so
    // duplicate-screen hits whose corpus-side OWNER is any doc of THIS
    // batch are excluded, not just exact self-id matches. The self-only
    // guard left a hole: a replayed batch that had admitted two
    // mutually-near-duplicate docs A and B would see A match corpus
    // entry B (different id) and vice versa, flipping BOTH to
    // near_duplicate while their index rows persisted. Anti-joining the
    // owner ids against the batch's id set restores the pre-crash
    // decisions exactly; it also preserves the open-intra-batch-window
    // semantics (novel same-batch near-pairs still both admit — batch
    // l9/l28 is that backstop). ONE id frame serves all three guards:
    // the pin's own column, no `distinct` (an anti join ignores
    // duplicates on its build side), so the plan broadcasts it once.
    val batchOwned = batch.select(col("doc_id").as("corpus_id"))
    def arm(df: DataFrame, bit: Long): DataFrame =
      df.select(col("doc_id"), lit(bit).as("_arm"))
    val arms = Seq.newBuilder[DataFrame]
    // decide() always runs on a BATCH frame (foreachBatch microbatch or
    // the release gates' pinned shard), so the near-dup arm takes the
    // batch dataflow: bare band keys through the join, sketch payloads
    // attached once per distinct candidate pair (screenBatch's note) —
    // flagged doc set identical to the stream form's.
    arms += arm(StreamingNearDup.screenBatch(batch, gates.neardup, keep = Nil)
      .join(batchOwned, Seq("corpus_id"), "left_anti"), NdBit)
    arms += arm(StreamingDecontam.screenRaw(batch, gates.holdoutGrams), CtBit)
    // the opt-in semantic-decontam arm: active only when the gate is
    // configured AND the batch carries embeddings; an inert arm simply
    // contributes nothing to the union
    if (batch.columns.contains("v"))
      gates.evalVecs.foreach { ix =>
        arms += arm(StreamingSemanticDecontam.screenRaw(batch, ix), CsBit)
      }
    // the opt-in verbatim-span screen
    gates.corpusSpans.foreach { ix =>
      arms += arm(StreamingSubstring.screenRaw(batch, ix,
        excludeOwners = Some(batchOwned)), VrBit)
    }
    // the opt-in exact-hash corpus backstop: content hash keys on the
    // batch's text AS DECIDED — under `clean=true` that is the cleaned
    // text, matching an index built from cleaned releases. Replay
    // semantics are CALLER-CHOSEN through the index projection: an
    // index frame CARRYING `doc_id` (the persisted DedupIndex's own
    // shape) gets the batch-ownership guard — a replayed [[startLive]]
    // batch whose hash append survived re-admits its own docs; an
    // h-only frame is UNguarded — [[graft.operators.ReleaseFlow]]
    // passes that shape so re-releasing a shard re-labels its own
    // landed bytes corpus_duplicate (idempotence by the artifact's own
    // semantics). Either way the index is probed, never reshaped: the
    // guard drops batch-owned HITS after the hash match, and duplicate
    // index rows only repeat a hit the flag word collapses.
    gates.exactHashes.foreach { ix =>
      val hashed = batch.select(col("doc_id"),
        graft.operators.DedupIndex.contentHash.as("_h"))
      arms += arm(
        if (ix.columns.contains("doc_id"))
          hashed.join(ix.select(col("h").as("_h"),
              col("doc_id").as("corpus_id")), Seq("_h"))
            .join(batchOwned, Seq("corpus_id"), "left_anti")
        else hashed.join(ix.select(col("h").as("_h")), Seq("_h"), "left_semi"),
        XdBit)
    }
    // ONE flag word per flagged doc (unflagged docs are absent and read
    // null after the left join, exactly like the old per-arm nulls);
    // the per-arm distinct is subsumed by this aggregation
    val flags = arms.result().reduce(_ unionByName _)
      .groupBy("doc_id").agg(bit_or(col("_arm")).as("_fl"))
    // null _fl => null test => the `when` skips, same as the old nulls
    def hit(bits: Long) = col("_fl").bitwiseAND(lit(bits)) =!= 0L
    // the flags hold at most one row per batch doc: broadcast them, so
    // the pinned batch streams through the join instead of shuffling
    LlmQueries.withStopBp(batch)
      .join(broadcast(flags), Seq("doc_id"), "left")
      .withColumn("reason",
        // byte-exact copy of the LANDED corpus is the strongest
        // duplicate claim — ahead of the sketch's near_duplicate
        when(hit(XdBit), "corpus_duplicate")
          .when(hit(NdBit), "near_duplicate")
          // dedup family stays contiguous: a doc that is BOTH a whole-doc
          // near-dup and a partial verbatim repeat reads near_duplicate
          // (the stronger claim); a partial lift that banding cannot see
          // reads verbatim_repeat
          .when(hit(VrBit), "verbatim_repeat")
          // gram-detected OR embedding-detected eval leakage: one
          // claim, one label (either bit alone suffices, same truth
          // table as the old Kleene null || true)
          .when(hit(CtBit | CsBit), "contaminated")
          // the POSITIVE quality verdict guards both remaining arms: a
          // null text (malformed/permissive-parsed record) nulls the
          // predicate, skips this branch, and lands in low_quality —
          // never admit, never a spurious `repetitive`. Inside the
          // verdict, the repetition screen is l27's occurrence rule OR
          // the full published ladder (l27b: duplicate-line fraction +
          // 2/3/4-gram char coverages, the shared
          // [[LlmQueries.ladderFlags]]) — all row-local, so the widened
          // screen still costs no join. A statistic that is itself null
          // (a 200-char SINGLE token has no 2-grams: top2Bp is null by
          // its own size(ta) >= 2 guard — under ANSI an unguarded
          // divide would throw, not null; the ladder's gram-less widths
          // report 0 and never flag) correctly admits — no grams,
          // nothing repeats.
          // the opt-in doc-quality ladder widens the quality verdict:
          // lit(false) when off, so the branch is byte-identical for
          // default callers. A null text nulls qualityKeep first —
          // the ladder never decides alone.
          .when(LlmQueries.qualityKeep && !(if (gates.docQuality)
              graft.operators.AuditQueries
                .gopherFlags(col("text"), col("toks")).reduce(_ || _)
            else lit(false)),
            when(LlmQueries.ladderFlags(col("text"), col("toks"))
                .foldLeft(LlmQueries.top2Bp(col("toks")) >
                  LlmQueries.RepetitionFlagBp)(_ || _),
              "repetitive")
              // the MODEL-BASED quality arm (opt-in, l34's production
              // weight path): runs LAST so its reason isolates docs
              // that cleared every rule-based gate and fell only to
              // the trained filter — the count an operator watches to
              // tune the model against the heuristics. Row-local (map
              // literal of the ≤256-bucket weight table), no join.
              .otherwise(gates.classifier
                .map(w => when(
                  CleaningQueries.scoreMilliWith(col("toks"), w) > 0L,
                  lit("admit")).otherwise(lit("model_filtered")))
                .getOrElse(lit("admit"))))
          .otherwise("low_quality"))
      .select(batch.columns.map(col) :+ col("reason"): _*)
  }

  /** Wire the full pipeline over a JSON document stream directory:
    * watermark-bounded exact dedup, then the per-batch decision, landed
    * to ONE parquet sink partitioned by (batch, reason) — "the admitted
    * corpus" is a partition-pruned read of `reason=admit` across batch
    * dirs, and every reject stays audit-readable with its reason (the
    * dual-sink contract in one table). A replayed microbatch overwrites
    * its ENTIRE `_batch_id=N` directory (mode overwrite on the batch
    * path, `reason` the only in-write partition key), so idempotence
    * holds even when the gates or quality rule changed between a
    * crashed attempt and its replay — a doc's stale decision row under
    * the old reason partition cannot survive beside its new one, which
    * dynamic partition overwrite (only replacing partitions PRESENT in
    * the replay) could not guarantee. Same exactly-once discipline as
    * [[IngestPipeline]]'s sinks, via partition idempotence rather than
    * an offset high-water mark. `n_chars` is measured here if absent so
    * the quality arm always has its input.
    *
    * STALENESS window, by design: the near-dup and contamination arms
    * screen against `gates` as loaded at start — two novel
    * near-identical docs arriving after the last index refresh are
    * both admitted (only byte-identical copies are caught by stream
    * state), until the batch l9/l28 backstop sweeps the landed corpus.
    * [[startLive]] closes the cross-BATCH part of that window. */
  def start(spark: SparkSession, stream: DataFrame, gates: Gates,
      outDir: String, tsCol: String, delay: String,
      clean: Boolean = false): StreamingQuery =
    drive(deduped(stream, tsCol, delay, clean), outDir)(batch =>
      (gatePin(batch)(decide(_, gates)), () => ()))

  /** [[start]] with LIVE indexes: each microbatch re-resolves every
    * configured persisted index by PATH, and the batch's admitted docs
    * are appended to each of them — one [[graft.operators.IndexSet]]
    * built from the configured dirs ([[StreamingNearDup]], plus
    * [[SubstringIndex]] with `substrIndexDir`, plus [[DedupIndex]] with
    * `exactHashDir`) — so a doc admitted in batch N flags its
    * near-copy, its partial span lifts and its byte-copies in batch
    * N+1 without waiting for a corpus rebuild. What remains open,
    * by design, is the INTRA-batch window: two novel near-identical
    * docs inside one microbatch still both admit (the batch l9/l28
    * sweep is that backstop). The per-batch re-read costs one plan
    * construction against the index directory — file listing, no data
    * scan beyond what the screen join reads anyway; each index's schema
    * resolves once, at start.
    *
    * Per microbatch: one [[gatePin]] (the stateful dedup runs once),
    * with the gates re-resolved and [[decide]] built and planned while
    * the pin's job runs, then the admission step every release runs
    * too ([[graft.operators.IndexSet.admitDeferred]]): the decisions
    * are pinned, the appends start — one job per artifact, each landing
    * one key-sorted file ([[graft.operators.IndexArtifact]]) — and the
    * decisions land while the appends run ([[drive]] joins them before
    * the batch ends).
    *
    * Replay: decisions stay exactly-once via the batch-dir overwrite;
    * a failed append or decisions write fails the batch, which replays
    * whole. A replayed append lands duplicate index rows, which screens
    * tolerate (pair-level distinct) at the cost of index bytes until
    * the next rebuild compacts them — the [[StreamingNearDup]] append
    * contract, whichever appends had landed. Every index-backed arm is
    * additionally replay-DECISION-idempotent: [[decide]] anti-joins each
    * screen's corpus-side owner ids (the exact-hash arm's too: the live
    * frame carries `doc_id`) against the batch's own id set, so a
    * replayed batch whose appends survived the crash re-admits its docs
    * — including mutually-near-duplicate pairs admitted together, which
    * a self-id-only guard would flip to duplicates of EACH OTHER —
    * instead of flagging them against their own surviving index rows.
    * That guard is also why the decisions write may overlap the
    * appends: whichever of them a crash cut short, the replay decides
    * the same. */
  def startLive(spark: SparkSession, stream: DataFrame,
      neardupIndexDir: String, holdoutGrams: DataFrame,
      outDir: String, tsCol: String, delay: String,
      clean: Boolean = false,
      substrIndexDir: Option[String] = None,
      /** No-op: ignored, nothing reads or appends it; kept so older callers compile. */
      winnowIndexDir: Option[String] = None,
      classifier: Option[Map[Int, Long]] = None,
      /** Opt-in LIVE exact-hash corpus backstop: the persisted
        * [[graft.operators.DedupIndex]] directory, probed per batch
        * (full (h, doc_id) shape — the batch-ownership replay guard
        * applies, see [[decide]]) and APPENDED with each batch's
        * admitted docs — so a byte-copy arriving after L17's watermark
        * evicted the original is caught in batch N+1 without waiting
        * for a corpus re-index. */
      exactHashDir: Option[String] = None,
      /** Opt-in semantic-decontam gate: the persisted
        * [[StreamingSemanticDecontam]] eval-vector directory, resolved
        * per batch (the suite is a release artifact — re-resolving by
        * path picks up a new eval release without a restart). No
        * append: the eval suite is not grown by admissions. */
      evalVecsDir: Option[String] = None): StreamingQuery = {
    val indexes = IndexSet(Seq(StreamingNearDup -> neardupIndexDir) ++
      substrIndexDir.map(SubstringIndex -> _) ++
      exactHashDir.map(DedupIndex -> _): _*)
    // each index's schema, inferred ONCE here: the per-batch reads
    // re-list the live files by path but skip the footer-inference job
    val ndLike = StreamingNearDup.readIndex(spark, neardupIndexDir)
    val spanSchema = substrIndexDir.map(SubstringIndex.read(spark, _).schema)
    val hashSchema = exactHashDir.map(DedupIndex.read(spark, _).schema)
    val evalSchema =
      evalVecsDir.map(StreamingSemanticDecontam.readIndex(spark, _).schema)
    drive(deduped(stream, tsCol, delay, clean), outDir) { batch =>
      val decisions = gatePin(batch) { pinned =>
        // all live indexes re-resolve by PATH per microbatch, while the
        // pin runs; the substring gate's screen set is a projection of
        // the SAME persisted artifact batch l33 probes (SubstringIndex
        // — the caller seeds it with the corpus, possibly
        // recency-scoped, before start)
        val gates = Gates(
          StreamingNearDup.readIndex(spark, neardupIndexDir, Some(ndLike)),
          holdoutGrams,
          corpusSpans = substrIndexDir.map(d =>
            StreamingSubstring.fromPersisted(spark, d, spanSchema)),
          classifier = classifier,
          exactHashes = exactHashDir.map(DedupIndex.read(spark, _, hashSchema)),
          evalVecs = evalVecsDir.map(
            StreamingSemanticDecontam.readIndex(spark, _, evalSchema)))
        decide(pinned, gates)
      }
      // the pinned decisions keep the pre-columns, so the appends
      // project them; the span index keys on `lang`, which a stream
      // may not carry
      indexes.admitDeferred(decisions, admitted =>
        if (admitted.columns.contains("lang")) admitted
        else admitted.withColumn("lang", lit("und")))
    }
  }

  /** The stream prelude every text entry point shares: cleaning runs
    * BEFORE the stateful dedup so the content-hash state keys on
    * cleaned text — see [[cleanse]]. */
  private def deduped(stream: DataFrame, tsCol: String, delay: String,
      clean: Boolean): DataFrame =
    StreamingDedup.withinWatermark(
      withNChars(if (clean) cleanse(stream) else stream), tsCol, delay)

  /** THE stream driver of every admission entry point (text and media,
    * static and live): per microbatch, `step` decides and returns
    * (decisions, join of any appends it started); the decisions land
    * under their own `_batch_id=N` dir with [[GatePreCols]] dropped —
    * fully overwritten on replay, see [[start]]'s idempotence note —
    * and the join runs before the batch ends, also when the decisions
    * write throws, so no append still writes while the batch fails
    * (the write's failure is the one thrown, [[graft.operators.Par
    * .joinAfter]]).
    * The directory name carries `_batch_id` as a discovered partition
    * column, so readers of `decisions/` see the same schema as
    * in-write partitioning would give. */
  private[streaming] def drive(deduped: DataFrame, outDir: String)(
      step: DataFrame => (DataFrame, () => Unit)): StreamingQuery =
    deduped.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (decisions, join) = step(batch)
        Par.joinAfter(join) {
          decisions.drop(GatePreCols: _*).write.mode("overwrite")
            .partitionBy("reason")
            .parquet(s"$outDir/decisions/_batch_id=$batchId")
        }
      }
      .start()

  private def withNChars(df: DataFrame): DataFrame =
    if (df.columns.contains("n_chars")) df
    else df.withColumn("n_chars", length(col("text")).cast("long"))
}
