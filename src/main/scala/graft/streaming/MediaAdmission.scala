package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Multimodal
import graft.operators.{IndexSet, LlmQueries}

/** Composed streaming MEDIA admission — [[AdmissionPipeline]]'s shape
  * for the media column: every gate a multimodal ingest runs at the
  * door, one entry point, one per-item DECISION row (`admit` /
  * `corrupt` / `corpus_duplicate` (opt-in byte-exact) /
  * `media_duplicate` / `too_small` / `extreme_aspect`)
  * landed to a reason-partitioned sink, instead of separate flag
  * streams a caller must reconcile.
  *
  * The gates are the batch operators' own building blocks, so ingest
  * and batch cannot drift:
  *
  *  - `corrupt`: payload null or shorter than the 5-byte header — the
  *    rows the decode cannot even parse (a real codec's failed-decode
  *    arm). Screened FIRST; corrupt rows get a decision row, never an
  *    exception ([[Multimodal.decodeStubTagged]] itself assumes a
  *    parseable header, exactly like a codec).
  *  - `media_duplicate`: the [[StreamingMediaDedup]] screen (batch
  *    l53's signature math, persisted-index band joins) — a
  *    re-encoded copy of landed media is the strongest rejection
  *    after corruption, mirroring the text pipeline's dedup-first
  *    precedence.
  *  - `too_small` / `extreme_aspect`: batch l58's metadata rules (the
  *    SAME [[LlmQueries.MediaMinDim]]/[[LlmQueries.MediaAspectMax]]
  *    constants) over the decoded header.
  *
  * Cross-batch state: exact BYTE-copy suppression within the
  * replay/retry horizon via `dropDuplicatesWithinWatermark` on the
  * payload hash — the media analog of L17's content-hash state; the
  * perceptual screen inside the batch then only pays for genuinely
  * novel bytes. UNDECODABLE payloads (null or sub-header — note an
  * empty blob hashes to a shared constant) key on their doc_id
  * instead, so every corrupt row lands its own decision instead of
  * the horizon's first swallowing the rest.
  *
  * Scale shape: decode and signature are partition-local maps; the
  * only joins are the bounded per-batch metadata/flag joins keyed on
  * doc_id and the index band probe — per-batch cost is
  * O(batch × index-hit-rate), independent of corpus size.
  */
object MediaAdmission {

  /** Gate inputs: the persisted corpus perceptual-hash index, plus an
    * opt-in byte-exact backstop (column `h` = sha256 of the payload —
    * the [[graft.operators.MediaReleaseFlow]] artifact): the media
    * analog of the text pipeline's [[Gates]]-level `exactHashes`. The
    * byte arm deliberately carries NO batch-ownership guard — a
    * re-released/replayed shard must re-label `corpus_duplicate`
    * against its own landed bytes, which is exactly what makes batch
    * re-release admit nothing while the GUARDED perceptual arm keeps
    * crash replays from flipping near-pairs (see [[decide]]). */
  final case class Gates(phash: StreamingMediaDedup.Index,
      exactHashes: Option[DataFrame] = None)

  /** ONE definition of "carries a byte identity" — [[itemKey]],
    * [[decide]]'s corrupt arm, and [[graft.operators.MediaReleaseFlow
    * .buildByteIndex]] all share it, so the init-time index and the
    * release-time decisions can never disagree on which payloads are
    * indexable. */
  private[graft] def decodable =
    col("payload").isNotNull && length(col("payload")) >= 5

  /** The per-item join/state key: the payload hash where one exists,
    * the doc_id where the payload is undecodable. ONE definition for
    * the stream-state dedup and [[decide]]'s internal joins, so the
    * two can never key differently. Undecodable payloads (null OR
    * sub-header — an empty blob hashes to a shared constant!) key by
    * doc_id, so every corrupt row keeps its own identity instead of
    * the horizon's first swallowing the rest. */
  private def itemKey: org.apache.spark.sql.Column =
    when(decodable, sha2(col("payload"), 256))
      .otherwise(concat(lit("corrupt:"), col("doc_id").cast("string")))

  /** The per-batch decision frame: `batch`'s columns plus `reason`.
    * Pure function of (batch, gates) — spec-tested directly and reused
    * by [[start]], [[startLive]] and [[graft.operators.MediaReleaseFlow
    * .release]]. Precedence: corrupt >
    * corpus_duplicate (opt-in) > media_duplicate > too_small >
    * extreme_aspect > admit.
    *
    * Internal joins key on [[itemKey]], NOT doc_id: two same-id rows
    * with different bytes (a corrected re-upload inside the horizon)
    * each get their own metadata and verdict instead of cross-pairing.
    * The duplicate screen excludes index rows OWNED by any doc of this
    * batch (an anti-join on `corpus_id` against the batch's id set),
    * which is what makes a crash REPLAY of [[startLive]] idempotent:
    * the replayed batch sees its own prior append in the index — both
    * its own rows AND those of its batch-mates (two mutually-near
    * items admitted together must not flip to `media_duplicate`
    * against each other on replay) — and re-derives the pre-crash
    * decisions exactly. */
  def decide(batch: DataFrame, gates: Gates): DataFrame = {
    val keyed = batch.withColumn("_k", itemKey)
    val ok = keyed.filter(decodable)
    val meta = Multimodal.decodeStubTagged(
      ok.select(col("doc_id").cast("long").as("doc_id"),
        col("_k").as("tag"), col("payload"))
        .as[Multimodal.MediaRawTagged](
          Encoders.product[Multimodal.MediaRawTagged]))
      .toDF().select(col("tag").as("_k"), col("width"), col("height"))
      .distinct() // same-bytes rows decode identically — one metadata row per key
    // the two flag arms fuse into ONE tagged union + _k aggregation
    // (same shape as [[AdmissionPipeline.decide]]'s fused flag word —
    // decision-identical, one join round instead of two; the meta join
    // stays separate because it carries VALUES, not a flag):
    //  - perceptual dup, with the replay batch-ownership guard (see the
    //    scaladoc above);
    //  - the opt-in byte-exact backstop: a payload whose sha256 the
    //    landed corpus already holds is the strongest duplicate claim —
    //    and it is UNguarded, so a re-released shard flags against its
    //    own landed bytes (batch idempotence) where the perceptual arm
    //    would not.
    // Neither arm reshapes its index or the batch: semi and anti joins
    // ignore repeats on their build side, so no `distinct` feeds them.
    val dup = StreamingMediaDedup.screenRaw(ok, gates.phash,
      keep = Seq("_k"))
      .join(ok.select(col("doc_id").as("corpus_id")), Seq("corpus_id"),
        "left_anti")
      .select(col("_k"), lit(1L).as("_arm"))
    val arms = gates.exactHashes
      .map(ix => dup.unionByName(ok.select(col("_k"))
        .join(ix.select(col("h").as("_k")), Seq("_k"), "left_semi")
        .select(col("_k"), lit(2L).as("_arm"))))
      .getOrElse(dup)
    val flags = arms.groupBy("_k").agg(bit_or(col("_arm")).as("_fl"))
    keyed
      .join(meta, Seq("_k"), "left")
      .join(flags, Seq("_k"), "left")
      .withColumn("reason",
        when(col("payload").isNull || length(col("payload")) < 5, "corrupt")
          .when(col("_fl").bitwiseAND(lit(2L)) =!= 0L, "corpus_duplicate")
          .when(col("_fl").bitwiseAND(lit(1L)) =!= 0L, "media_duplicate")
          .when(col("width") < LlmQueries.MediaMinDim ||
            col("height") < LlmQueries.MediaMinDim, "too_small")
          .when(greatest(col("width"), col("height")).cast("long") >
            lit(LlmQueries.MediaAspectMax) *
              least(col("width"), col("height")).cast("long"),
            "extreme_aspect")
          .otherwise("admit"))
      .select(batch.columns.map(col) :+ col("reason"): _*)
  }

  /** The shared stream prelude: watermark-bounded exact byte dedup on
    * [[itemKey]] — one definition for [[start]] and [[startLive]] so
    * the entry points cannot key differently. */
  private def dedupedStream(stream: DataFrame, tsCol: String,
      delay: String): DataFrame =
    stream
      .withColumn("_mh", itemKey)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_mh")
      .drop("_mh")

  /** Wire the pipeline over a streaming media frame (doc_id, payload,
    * `tsCol`): watermark-bounded exact byte dedup, per-batch decision,
    * one parquet sink partitioned by (batch, reason) — the text
    * pipeline's driver ([[AdmissionPipeline.drive]]), so the same
    * replay-idempotence contract as [[AdmissionPipeline.start]] (a
    * replayed microbatch overwrites its whole `_batch_id=N` dir). The
    * batch is pinned once, eagerly: decide() reads it from several
    * arms, and each read of the unpinned frame re-runs the dedup. */
  def start(spark: SparkSession, stream: DataFrame, gates: Gates,
      outDir: String, tsCol: String, delay: String): StreamingQuery =
    AdmissionPipeline.drive(dedupedStream(stream, tsCol, delay), outDir)(
      batch => (decide(batch.localCheckpoint(), gates), () => ()))

  /** [[start]] with a LIVE index — the [[AdmissionPipeline.startLive]]
    * contract on the media column: each microbatch re-resolves the
    * persisted perceptual-hash index by PATH, and the batch's admitted
    * media are appended to it through the admission step every release
    * runs too ([[graft.operators.IndexSet.admitDeferred]]) — so an item
    * admitted in batch N flags its re-encode in batch N+1 without
    * waiting for a corpus rebuild. The INTRA-batch window stays open
    * by design (two novel near-identical items in one microbatch both
    * admit; batch l53 is that backstop), and a crash REPLAY is
    * decision-idempotent: the replayed batch sees its own prior append
    * in the index, but [[decide]]'s batch-ownership guard keeps the
    * admits from flipping to `media_duplicate` against their own or
    * their batch-mates' index rows — which is also why the decisions
    * write may overlap the append — and the duplicate index rows the
    * re-append lands are screen-tolerated (the [[StreamingMediaDedup]]
    * append contract). */
  def startLive(spark: SparkSession, stream: DataFrame,
      phashIndexDir: String, outDir: String, tsCol: String,
      delay: String): StreamingQuery = {
    val indexes = IndexSet(StreamingMediaDedup -> phashIndexDir)
    // the index schemas, inferred ONCE here: the per-batch reads re-list
    // the live files by path but skip the footer-inference job
    val like = StreamingMediaDedup.readIndex(spark, phashIndexDir)
    AdmissionPipeline.drive(dedupedStream(stream, tsCol, delay), outDir) {
      batch =>
        val gates = Gates(
          StreamingMediaDedup.readIndex(spark, phashIndexDir, Some(like)))
        indexes.admitDeferred(decide(batch.localCheckpoint(), gates))
    }
  }
}
