package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sampling
import graft.streaming.AdmissionPipeline

/** The FULL corpus-build pipeline as one callable — the capstone
  * composition every stage of the catalog exists for (a Dolma/
  * RefinedWeb-class assembly run is exactly this chain):
  *
  *   raw docs
  *     → (opt-in) [[AdmissionPipeline.cleanse]]   — the C4 battery +
  *       PII redaction the streaming ingest runs (`cleaned_out` for
  *       pages the battery nulls; opt-in exactly like `startLive`'s
  *       `clean` flag — a single-line corpus cannot pass the ≥ 3-kept-
  *       lines page bar, so the battery is a per-deployment decision)
  *     → the GATE LADDER — [[ReleaseFlow.release]] (or [[ReleaseFlow
  *       .releaseCut]], the curative form) against the persisted
  *       artifact set: every admission arm in canonical precedence,
  *       appends included, so a build IS a release
  *     → CURATION — l29's duplicate rule over the admitted slice:
  *       near-dup cluster canonicality (l9's verified pairs, l28's
  *       closure) unioned with exact-hash canonicality, keep the
  *       minimum id per cluster. The gate screens the shard against
  *       the LANDED corpus; this stage dedups the shard against
  *       ITSELF — the two different halves of published dedup
  *       pipelines, both needed
  *     → SAMPLING + SPLIT — l20's stratified per-language draw and
  *       l22's salt-independent holdout split over the survivors
  *       (l23's manifest composition, same rules, same order)
  *     → EPOCH SHARDS — l55's deterministic training order of the
  *       train split, materialized via [[EpochShards.writeShards]]
  *       when a shards directory is given.
  *
  * Returns the per-document LEDGER (every raw doc in exactly ONE
  * (stage, outcome) row — the full accounting a release report needs)
  * and the MANIFEST (per-(lang, split, shard) doc/token counts with an
  * identity checksum — the frame a training run consumes).
  * CorpusBuildSpec pins stage-for-stage equality with the standalone
  * components and the ledger's partition property; the c1 DQ
  * ([[CorpusBuildQueries]]) puts the composed manifest under the
  * DuckDB oracle.
  *
  * Scale shape: every stage is the standalone component's own plan —
  * nothing new executes here. The only additions are the ledger union
  * (a per-doc projection per stage) and one checkpoint of the
  * survivor slice (consumed by the manifest rollup AND the shard
  * writer — same discipline as [[ReleaseFlow.release]]'s decision
  * pin).
  */
object CorpusBuild {

  /** Build configuration.
    * @param screens   the gate ladder's opt-in screens ([[ReleaseFlow.Screens]])
    * @param cleanse   run the C4 + PII battery first (ingest's `clean` flag)
    * @param curative  use [[ReleaseFlow.releaseCut]] (cut indexed spans,
    *                  then decide) instead of whole-doc rejection
    * @param epoch     which epoch's deterministic order to materialize */
  final case class Config(
      screens: ReleaseFlow.Screens = ReleaseFlow.Screens(),
      cleanse: Boolean = false,
      curative: Boolean = false,
      epoch: Int = 0)

  /** The build output: `ledger` = (lang, doc_id, stage, outcome), one
    * row per raw doc; `manifest` = (lang, split, shard, n_docs,
    * n_tokens, doc_id_sum), shard = −1 for val/test (only the train
    * split is training-ordered); `gate` = the gate ladder's FULL
    * per-doc decision frame (already checkpointed by the release) —
    * the place the cure's per-doc accounting lives on a curative
    * build (`n_cut_tokens` beside `decision`), which the compressed
    * (stage, outcome) ledger deliberately does not carry. */
  final case class Result(ledger: DataFrame, manifest: DataFrame,
      gate: DataFrame)

  /** Run the full build of `raw` (lang, doc_id, text) against the
    * artifact set at `base` (must be initialized — an EMPTY corpus
    * init is the v1-build case). Appends the admitted slice to every
    * artifact, exactly as [[ReleaseFlow.release]] does. To RECALL a
    * build later (takedown, post-release contamination), retract its
    * admissions: `ReleaseFlow.retract(spark,
    * result.gate.filter(col("decision") === "admit").select("doc_id"),
    * base)` — the r4-gated recall half of the lifecycle. */
  def build(spark: SparkSession, raw: DataFrame, base: String,
      shardsBase: Option[String] = None,
      cfg: Config = Config()): Result = {
    // pinned when cleansed: the frame feeds two subtrees (the
    // cleaned_out ledger arm and the gate's shard) and the C4+PII
    // battery is the dominant per-doc cost of a cleansing build — an
    // unpinned lineage would re-run it per consumer (the same
    // multiplier the release's shard checkpoint exists to stop). Eager,
    // like every pin on the release path: concurrent consumers race a
    // lazy pin's materialization. A raw passthrough needs no pin (plain
    // scans re-read cheaply).
    val staged =
      if (cfg.cleanse) AdmissionPipeline.cleanse(raw).localCheckpoint()
      else raw
    // born-null and cleansed-to-null rows cannot be screened or indexed
    // (the release gate would drop them silently); the ledger accounts
    // them here so every raw doc has exactly one row
    val cleanedOut = staged.filter(col("text").isNull)
      .select(col("lang"), col("doc_id"),
        lit("cleanse").as("stage"), lit("cleaned_out").as("outcome"))
    val survivorsIn = staged.filter(col("text").isNotNull)
    // deferred-append release (guide §2.6 one level up): the gate
    // ladder's artifact appends run CONCURRENTLY with the
    // curation/sampling stages below, which read only the eagerly
    // checkpointed decision frame — never the artifacts. The join
    // before Result keeps build's contract ("appends the admitted
    // slice to every artifact") observable to every caller.
    val (decided, joinAppends) =
      (if (cfg.curative) ReleaseFlow.releaseCutDeferred(spark, survivorsIn,
        base, cfg.screens)
      else ReleaseFlow.releaseDeferred(spark, survivorsIn, base, cfg.screens))
    // everything between fork and join is wrapped so a curation/shard
    // failure still joins (or observes) the in-flight appends instead
    // of leaving them racing past the exception; that failure, not an
    // append's, is the one thrown
    Par.joinAfter(joinAppends) {
    val gateOut = decided.filter(col("decision") =!= "admit")
      .select(col("lang"), col("doc_id"),
        lit("gate").as("stage"), col("decision").as("outcome"))
    val admitted = decided.filter(col("decision") === "admit")
      .select("lang", "doc_id", "text")
    // ---- curation: l29's duplicate rule over the admitted slice
    val edges = LlmQueries.candidatePairs(admitted)
      .filter(col("jac_e4") >= graft.streaming.StreamingNearDup.DefaultThresholdE4)
      .select("ida", "idb")
      .localCheckpoint()
    val labels = graft.functions.Components.closeAdaptive(edges)
    // pinned once: three consumers (the curation ledger rows, the
    // sampled-out rows, the survivor slice) would otherwise each re-run
    // the canonicality window + closure join. Lazy, admitted-bounded.
    val curated = admitted
      .withColumn("exact_canon",
        min("doc_id").over(Window.partitionBy(LlmQueries.normHash)))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("_dup",
        (col("comp").isNotNull && col("doc_id") =!= col("comp")) ||
          col("doc_id") =!= col("exact_canon"))
      // eager (three consumers race a lazy pin — the decide-pin lesson)
      .localCheckpoint()
    val curationOut = curated.filter(col("_dup"))
      .select(col("lang"), col("doc_id"),
        lit("curation").as("stage"), lit("near_duplicate").as("outcome"))
    // ---- sampling + split (l23's composition, same rules, same order)
    val postCuration = curated.filter(!col("_dup"))
      .select("lang", "doc_id", "text")
    val sampledOut = postCuration
      .filter(!Sampling.stratifiedKeep(col("doc_id"), col("lang"),
        SamplingQueries.thresholds))
      .select(col("lang"), col("doc_id"),
        lit("sampling").as("stage"), lit("sampled_out").as("outcome"))
    // one survivor frame feeds the ledger, the manifest rollup AND the
    // shard writer — pin it once (lazy; bounded by survivor count)
    val survivors = postCuration
      .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"),
        SamplingQueries.thresholds))
      .withColumn("split", Sampling.splitLabel(col("doc_id"), lit("split"),
        Seq("train" -> "c000", "val" -> "e000"), last = "test"))
      .localCheckpoint()
    val ledger = cleanedOut
      .unionByName(gateOut)
      .unionByName(curationOut)
      .unionByName(sampledOut)
      .unionByName(survivors.select(col("lang"), col("doc_id"),
        lit("manifest").as("stage"), col("split").as("outcome")))
    // ---- manifest + the materialized training order of the train split
    val manifest = survivors
      .withColumn("shard", when(col("split") === "train",
        EpochShards.shardOf(EpochShards.ordEpoch(cfg.epoch)))
        .otherwise(lit(-1L)))
      .groupBy("lang", "split", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(SamplingQueries.nTok(col("text"))).as("n_tokens"),
        sum("doc_id").as("doc_id_sum"))
      .orderBy("lang", "split", "shard")
    shardsBase.foreach { sb =>
      EpochShards.writeShards(
        survivors.filter(col("split") === "train").drop("split"),
        cfg.epoch, sb)
    }
    Result(ledger, manifest, decided)
    } // all artifacts landed before build returns
  }
}
