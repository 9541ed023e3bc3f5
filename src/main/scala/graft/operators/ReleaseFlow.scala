package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{AdmissionPipeline, StreamingNearDup, StreamingSubstring}

/** One corpus RELEASE, end-to-end, over the persisted index artifacts —
  * the composition the whole index family exists for, as a callable
  * instead of a runbook. A release pipeline holds three standing
  * artifacts per corpus version (each with its own build/probe/append
  * split, all spec-pinned append ≡ rebuild):
  *
  *  - the exact-dedup hash set ([[DedupIndex]] — l1/l46's probe side),
  *  - the MinHash band index ([[StreamingNearDup]]'s persisted form —
  *    l9/L18/l49's probe side),
  *  - the substring span-gram index ([[SubstringIndex]] — l33's probe
  *    side and the streaming verbatim gate's source; the verbatim arm
  *    probes it exactly, one span-gram join per shard).
  *
  * [[release]] labels every shard row by CALLING the streaming
  * pipeline's own decision function ([[AdmissionPipeline.decide]]) over
  * the persisted artifacts — not a parallel re-implementation — so
  * "ingest-time and release-time decisions read identically" is true by
  * construction: one decision function, two callers. Every arm of the
  * admission vocabulary runs at release: `corpus_duplicate` (the hash
  * index, the strongest claim), `near_duplicate` (the band sketch),
  * `verbatim_repeat` (the span-gram index the release also appends to),
  * `contaminated` (opt-in, the caller's holdout gram index),
  * `low_quality` / `repetitive` (the shared row-local qualityKeep +
  * Gopher-ladder rules), `model_filtered` (opt-in trained weights) —
  * in the canonical precedence. The admitted slice appends to every
  * artifact; the labeled frame returns for the release audit.
  * Releasing the same shard twice admits nothing the second time: the
  * first release's admissions are in the hash index, so every
  * formerly-admitted row re-labels `corpus_duplicate` — idempotence by
  * the artifacts' own semantics, not by bookkeeping (the exact-hash
  * arm deliberately carries no batch-ownership guard, unlike the
  * sketch arms — see [[AdmissionPipeline.decide]]).
  *
  * Scale shape: every screen is the component's own probe half (hash
  * semi-join / band equi-join) — only the SHARD tokenizes, sketches,
  * and hashes; the corpus-sized sides are projection scans of the
  * persisted files. The appends are the components' append paths
  * (pure per-row functions of a document — no trained state), so
  * append-then-probe ≡ full rebuild holds for the composition exactly
  * as it does per component (ReleaseFlowSpec re-pins it end-to-end).
  *
  * Shard ids must be disjoint from indexed ids (every index's standing
  * contract — the caller's id authority).
  */
object ReleaseFlow {

  def dedupDir(base: String): String   = s"$base/dedup"
  def neardupDir(base: String): String = s"$base/neardup"
  def substrDir(base: String): String  = s"$base/substr"

  /** No-op: no artifact is written or read here; kept so older callers compile. */
  def winnowDir(base: String): String  = s"$base/winnow"

  /** The release's three indexes, each under its own dir — THE artifact
    * list: init, the release appends, [[compact]] and [[retract]] all
    * iterate it, so it is the one place that knows every artifact a
    * release writes. */
  private[operators] def indexes(base: String): IndexSet =
    IndexSet(DedupIndex -> dedupDir(base),
      StreamingNearDup -> neardupDir(base),
      SubstringIndex -> substrDir(base))

  /** Initialize the artifact set from the first corpus version.
    * `corpus` must carry (lang, doc_id, text). The three builds are
    * independent single-writer jobs over disjoint directories — they
    * run concurrently ([[Par]], guide §2.6) so wall clock is the
    * slowest build, not the sum of three. */
  def init(corpus: DataFrame, base: String): Unit =
    indexes(base).write(corpus)

  /** Opt-in screens beyond the three standing artifacts — the two
    * decision arms that need caller-supplied state: `contaminated`
    * (the L30 holdout gram index, [[graft.streaming.StreamingDecontam
    * .buildIndex]]'s frame) and `model_filtered` (l34's trained
    * `(bucket, milli_weight)` table). None leaves the arm off; the
    * rule-based arms (quality, repetition) are always on, exactly as at
    * ingest. */
  final case class Screens(holdoutGrams: Option[DataFrame] = None,
      classifier: Option[Map[Int, Long]] = None,
      /** Opt-in Gopher doc-quality ladder (l69's rules) — the same
        * flag as [[AdmissionPipeline.Gates.docQuality]], so a corpus
        * ingested under the ladder releases under it too. */
      docQuality: Boolean = false)

  /** Screen `shard` (lang, doc_id, text) against the persisted
    * artifacts, append the admitted slice to each, return the labeled
    * decision frame (`decision` column — the admission pipeline's
    * reason vocabulary). EAGER — the decision frame is checkpointed
    * before the appends so the screens provably see pre-append state. */
  def release(spark: SparkSession, shard0: DataFrame, base: String,
      screens: Screens = Screens()): DataFrame = {
    val (decided, joinAppends) = releaseDeferred(spark, shard0, base, screens)
    joinAppends()
    decided
  }

  /** [[release]] with the appends FORKED instead of awaited: returns
    * (decided, joinAppends). The decision frame is already eagerly
    * checkpointed (pre-append state, unchanged), so a caller may run
    * work that depends only on the DECISIONS — never on the artifacts
    * — between fork and join ([[CorpusBuild.build]] overlaps its
    * curation stage this way, guide §2.6 one level up). The caller
    * MUST invoke joinAppends() before anything reads or re-releases
    * the artifacts; [[release]] itself is exactly this with an
    * immediate join, so the public contract is unchanged. */
  private[operators] def releaseDeferred(spark: SparkSession,
      shard0: DataFrame, base: String,
      screens: Screens = Screens()): (DataFrame, () => Unit) = {
    // a null-text row can neither be screened (null hash, no sketch)
    // nor indexed (every artifact's build drops it) — admitting it
    // would break the idempotence contract, since a re-release could
    // not recognize it. Malformed rows are the ingest validators' job
    // (V-rows / the admission pipeline's low_quality arm); the release
    // screen drops them up front.
    val shard = shard0.filter(col("text").isNotNull)
    val addChars = !shard.columns.contains("n_chars")
    // one gate pin ([[AdmissionPipeline.gatePin]]): decide()'s arms and
    // the appends below all project its pre-columns; the gates
    // resolve and decide() plans while the pin's job runs
    val decisionPlan = AdmissionPipeline.gatePin(shard) { pinned =>
      val gates = AdmissionPipeline.Gates(
        StreamingNearDup.readIndex(spark, neardupDir(base)),
        // an empty LONG gram frame leaves the contaminated arm inert
        // while keeping the decision chain's shape identical
        screens.holdoutGrams.getOrElse(spark.emptyDataFrame
          .select(lit(0L).as("gram")).limit(0)),
        corpusSpans = Some(StreamingSubstring.fromPersisted(spark, substrDir(base))),
        classifier = screens.classifier,
        exactHashes = Some(DedupIndex.read(spark, dedupDir(base)).select("h")),
        docQuality = screens.docQuality)
      AdmissionPipeline.decide(pinned, gates)
    }
    // the admission step ([[IndexSet.admitDeferred]]): decisions pinned
    // BEFORE the appends mutate state — the pin still carries the
    // pre-tokens, so each builder projects its own columns for free —
    // then the three appends start NOW; the returned join is where "ALL
    // artifacts landed" becomes true
    val (decisions, joinAppends) = indexes(base).admitDeferred(decisionPlan)
    val decided = decisions.withColumnRenamed("reason", "decision")
      .drop((AdmissionPipeline.GatePreCols ++
        (if (addChars) Seq("n_chars") else Seq.empty[String])): _*)
    (decided, joinAppends)
  }

  /** The CURATIVE release — [[release]] rejects a span-lifting document
    * whole (`verbatim_repeat`); this applies Lee et al. 2022's actual
    * remedy first (ExactSubstr "removes the duplicated substring,
    * keeping one occurrence" — the corpus already holds the canonical
    * occurrence, so the shard's copy cuts) and releases the CURED
    * shard: every maximal run of indexed k-grams is cut from the
    * document's token stream ([[SamplingQueries.cutAgainstIndex]] over
    * the persisted [[SubstringIndex]]), then the standard decision
    * chain runs over the cleaned text — a doc that was only quoting
    * indexed boilerplate admits with the quote removed; a doc that is
    * NOTHING BUT indexed text cuts to empty and lands `low_quality`
    * (nothing left worth admitting); a doc with no indexed spans flows
    * byte-identical to [[release]]. The returned frame carries
    * `n_cut_tokens` beside `decision` — the cure's accounting column —
    * and admitted rows enter every artifact with their CLEANED text.
    *
    * Byte-copies of the LANDED corpus are exempt from the cure: the
    * duplicate claim precedes the cut (a doc whose content hash is
    * already indexed is a duplicate, not a quote-carrier — cutting it
    * to empty would downgrade `corpus_duplicate` to `low_quality`), so
    * hash-known docs flow uncut and the hash arm labels them.
    * With that, idempotence holds at span resolution k, by the
    * artifacts' own semantics: re-releasing a cut shard re-labels its
    * uncut admissions `corpus_duplicate` and re-cuts everything a cure
    * admitted (those cleaned grams are now indexed), so a formerly-
    * cured doc collapses to empty (`low_quality`) — either way nothing
    * re-appends. Residuals shorter than k tokens are below the
    * published criterion's resolution by construction (ReleaseFlowSpec
    * pins the composed behavior).
    *
    * Scale shape: one extra shard-side tokenize + hash and a
    * distinct-gram projection scan of the persisted index on top of
    * [[release]]'s own probes — the corpus never reshuffles. */
  def releaseCut(spark: SparkSession, shard0: DataFrame, base: String,
      screens: Screens = Screens()): DataFrame = {
    val (decided, joinAppends) =
      releaseCutDeferred(spark, shard0, base, screens)
    joinAppends()
    decided
  }

  /** [[releaseCut]] in [[releaseDeferred]]'s forked-appends form —
    * same caller obligation: joinAppends() before anything reads or
    * re-releases the artifacts. */
  private[operators] def releaseCutDeferred(spark: SparkSession,
      shard0: DataFrame, base: String,
      screens: Screens = Screens()): (DataFrame, () => Unit) = {
    // same shard-pinning argument as [[release]], needed HERE as well
    // because the cure path walks the shard twice more (hash exemption,
    // cut) before release() ever sees it — r2's gate measured ~38 s
    // from the unpinned composite; eager for the same concurrent-
    // recompute reason as the decision pin. The cut pin carries exactly
    // the pre-computations ITS consumers project — tokens (cut
    // application) and positional span-gram hashes (the cut probe) —
    // never the MinHash sketch (no screen runs here; the decision pin
    // inside releaseDeferred carries that). The cured text re-pins
    // through releaseDeferred, which OVERWRITES every pre-column from
    // the fresh tokens — a cut doc never screens against its stale
    // pre-cure derivations (the standing contract).
    val shard = shard0.filter(col("text").isNotNull)
      .withColumn(LlmQueries.PreTokens, split(lower(col("text")), "\\s+"))
      .withColumn(LlmQueries.PreGrams,
        SamplingQueries.spanGramHashes(LlmQueries.PreTokens))
      .localCheckpoint()
    val fresh = shard
      .withColumn("_h", DedupIndex.contentHash)
      .join(DedupIndex.read(spark, dedupDir(base)).select(col("h").as("_h")),
        Seq("_h"), "left_anti")
      .drop("_h")
    val cured = SamplingQueries.cutAgainstIndex(fresh,
        SubstringIndex.read(spark, substrDir(base)), SamplingQueries.SpanK)
      .filter(col("n_cut_tokens") > 0L)
      .select(col("doc_id"), col("text_clean"), col("n_cut_tokens"))
    // uncut docs keep their ORIGINAL bytes (the cut operates on the
    // normalized token stream; a no-op cure must not re-normalize)
    val shardCured = shard
      .join(cured, Seq("doc_id"), "left")
      .withColumn("text", when(col("n_cut_tokens").isNotNull,
        col("text_clean")).otherwise(col("text")))
      .withColumn("n_cut_tokens", coalesce(col("n_cut_tokens"), lit(0L)))
      .drop("text_clean")
    releaseDeferred(spark, shardCured, base, screens)
  }

  /** Compact all three artifacts — the maintenance op a release
    * schedule runs every N shards: each append lands one key-sorted
    * file beside the clustered ones, and its footer min/max span about
    * the whole key domain, so after N releases a probe opens N files it
    * cannot skip; this rewrite
    * restores each index's probe-keyed layout without touching a row
    * ([[Compaction]]'s contract — compact ≡ rebuild ≡ append-chain,
    * CompactionSpec pins it through a live release). Offline op, like
    * the init/release calls themselves. */
  def compact(spark: SparkSession, base: String): Unit =
    indexes(base).compact(spark)

  /** RETRACTION — the RECALL half of the release lifecycle: remove
    * every artifact row derived from `docIds` across all three indexes,
    * as if those documents had never been released. The operation a
    * real corpus deployment cannot live without — a takedown request,
    * a post-release contamination discovery, a licensing recall — and
    * the one an append-only contract can't express: after
    * `retract(admittedIdsOf(R))`, every artifact's row multiset equals
    * its pre-release state EXACTLY (not approximately — each index row
    * is a pure per-doc function, the append contract's own premise, so
    * anti-join ≡ rebuild-on-complement; RetractSpec pins it byte-for-
    * byte, plus decision-identity of a re-release). Semantics notes:
    *
    *  - ids need not be a whole release — any doc_id set retracts,
    *    and ids absent from the artifacts are a no-op;
    *  - documents REJECTED because of a retracted doc are NOT
    *    re-admitted retroactively (decisions are frames the caller
    *    kept, not index state); re-release the shard to re-decide
    *    against the post-retraction corpus;
    *  - cost = one [[Compaction]]-grade rewrite per artifact
    *    directory — four across the three indexes, the neardup index
    *    being a sketch + bands pair; the span-gram rewrite
    *    dominates — so batch recalls into one call —
    *    the id list is shard-bounded (hence broadcast), never
    *    corpus-bounded. Offline op, like compact/init; a deployment
    *    under a transactional table format expresses this same
    *    rewrite as its DELETE + OPTIMIZE pair.
    *
    * Why rewrite rather than a tombstone tier: tombstones make the
    * recall itself O(ids) but tax EVERY subsequent probe with an
    * anti-join against the tombstone set and put a correctness
    * obligation on every reader (a screen that forgets the filter
    * silently resurrects recalled docs — the worst failure mode for a
    * takedown). The rewrite keeps artifacts self-contained — every
    * existing reader, batch or streaming, is correct unchanged — and
    * recalls are rare and batchable, so the compaction-grade cost is
    * paid seldom and buys back the layout anyway. A deployment whose
    * recall rate makes per-recall rewrites untenable is exactly the
    * transactional-format regime, where the format's own delete
    * vectors ARE the tombstone tier, applied uniformly at scan level
    * below every reader. */
  def retract(spark: SparkSession, docIds: DataFrame, base: String): Unit =
    // the id list is pinned before the first swap: a caller may derive
    // it from a frame whose lineage reads these very artifacts. The
    // four swaps are independent and run concurrently; the span-gram
    // rewrite (the largest artifact) dominates the wall clock.
    indexes(base).retract(spark, docIds)

  /** A deployment's full artifact footprint, for [[retractAll]]. The
    * three artifact families a corpus deployment accumulates:
    * RETRACT-class indexes (pure per-doc rows — anti-join ≡ rebuild),
    * MATERIALIZATIONS whose rows are still per-doc pure (epoch shards
    * — refreshed in place), and REBUILD-class trained state (global
    * statistics — can only be re-trained, so a retraction marks it
    * stale via [[TrainMeta]] and [[TrainMeta.isStale]] makes the
    * boundary DETECTABLE instead of documentation-only).
    * `ann` assumes vec_id shares the doc_id namespace (the l11
    * multimodal-join premise — one id authority across modalities). */
  final case class Footprint(
      release: String,
      media: Option[String] = None,
      ann: Option[String] = None,
      /** epoch-shard roots to refresh in place, with the epochs each
        * has materialized. */
      shards: Seq[(String, Seq[Int])] = Nil,
      /** curriculum-shard roots to refresh in place ([[EpochShards
        * .retractCurriculumShards]] — same per-doc purity). */
      curriculum: Seq[String] = Nil,
      /** [[TrainMeta]]-stamped rebuild-class artifact dirs (a
        * [[DsirIndex]] base, a [[BpeIndex]] base, …) to mark stale. */
      rebuildClass: Seq[String] = Nil)

  /** THE one-call takedown — [[retract]] extended across the whole
    * deployment footprint with ONE pinned id set: the three release
    * indexes, the media pair, the ANN indexes, every materialized
    * epoch-shard order ([[EpochShards.retractShards]] — per-doc pure,
    * so the in-place refresh equals a complement rebuild exactly,
    * replay order included), and a staleness marker on each
    * rebuild-class artifact whose statistics still embody the
    * retracted docs (the DSIR llr table, the BPE merge list — their
    * next [[TrainMeta.stamp]]-ing retrain clears the marker). Before
    * this call existed the rebuild-class boundary was a documented
    * caller obligation; now forgetting it is detectable
    * ([[TrainMeta.isStale]]) rather than silent. Returns the
    * (artifact, action) ledger of what moved. */
  def retractAll(spark: SparkSession, docIds: DataFrame,
      fp: Footprint): Seq[(String, String)] = {
    val ids = IndexArtifact.pinIds(docIds)
    // every footprint member is an independent artifact root — one
    // concurrent task per root ([[Par]]); the ledger is assembled in
    // the fixed declaration order AFTER all tasks land, so its rows
    // are deterministic regardless of completion order
    val tasks = Seq.newBuilder[() => Unit]
    val out = Seq.newBuilder[(String, String)]
    tasks += (() => indexes(fp.release).retractPinned(spark, ids))
    out += fp.release -> "retracted (dedup, neardup, substr)"
    fp.media.foreach { m =>
      tasks += (() => MediaReleaseFlow.indexes(m).retractPinned(spark, ids))
      out += m -> "retracted (bytehash, phash)"
    }
    fp.ann.foreach { a =>
      tasks += (() => AnnIndexes.retractPinned(spark,
        ids.select(col("doc_id").as("vec_id")), a))
      out += a -> "retracted (lsh, ivf)"
    }
    fp.shards.foreach { case (sb, epochs) =>
      tasks += (() =>
        epochs.foreach(e => EpochShards.retractShardsPinned(spark, ids, e, sb)))
      out += sb -> s"shards refreshed (epochs ${epochs.mkString(",")})"
    }
    fp.curriculum.foreach { cb =>
      tasks += (() => EpochShards.retractCurriculumShardsPinned(spark, ids, cb))
      out += cb -> "curriculum shards refreshed"
    }
    fp.rebuildClass.foreach { rb =>
      tasks += (() => TrainMeta.markRetraction(ids, rb))
      out += rb -> "marked stale (rebuild-class; retrain to clear)"
    }
    Par.run(tasks.result())
    out.result()
  }

  /** The release audit rollup — decisions per (lang, decision) with an
    * identity checksum, the accounting row a release report carries. */
  def audit(decided: DataFrame): DataFrame =
    decided.groupBy("lang", "decision")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("doc_id_sum"))
      .orderBy("lang", "decision")
}
