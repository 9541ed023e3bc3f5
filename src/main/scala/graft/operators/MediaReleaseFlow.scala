package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{MediaAdmission, StreamingMediaDedup}

/** One MEDIA corpus release, end-to-end — [[ReleaseFlow]]'s
  * init/release/audit lifecycle on the media column, over the media
  * pipeline's two persisted artifacts:
  *
  *  - the byte-exact payload hash set (sha256 of the payload — the
  *    media analog of [[DedupIndex]], and the SAME hash as
  *    [[MediaAdmission]]'s stream-state item key, so batch release and
  *    streaming ingest can never key differently);
  *  - the perceptual-hash index ([[StreamingMediaDedup]]'s persisted
  *    sigs+bands — batch l53's signature math, the streaming media
  *    gate's source).
  *
  * [[release]] labels every shard row by CALLING the streaming media
  * pipeline's own decision function ([[MediaAdmission.decide]]) over
  * the persisted artifacts — one decision function, two callers, the
  * same contract as the text [[ReleaseFlow]]: `corrupt` /
  * `corpus_duplicate` (byte-exact) / `media_duplicate` (perceptual) /
  * `too_small` / `extreme_aspect` / `admit`, in the canonical
  * precedence. Only the admitted slice appends to both artifacts.
  * Releasing the same shard twice admits nothing the second time —
  * every formerly-admitted item re-labels `corpus_duplicate` against
  * its own landed bytes (the byte arm carries no batch-ownership
  * guard, exactly like the text flow's exact-hash arm), while the
  * GUARDED perceptual arm keeps crash replays from flipping
  * mutually-near pairs admitted together.
  *
  * Scale shape: signatures and byte hashes are per-row partition-local
  * maps over the shard only; the corpus-sized sides are projection
  * scans of the persisted files (hash semi-join / band equi-join).
  * Appends are pure per-row functions of the payload, so
  * append-then-probe ≡ full rebuild holds for the composition
  * (MediaReleaseFlowSpec re-pins it end-to-end). Shard ids must be
  * disjoint from indexed ids (the index family's standing contract).
  */
object MediaReleaseFlow {

  def bytehashDir(base: String): String = s"$base/bytehash"
  def phashDir(base: String): String    = s"$base/phash"

  /** The byte-exact index frame of a media corpus (doc_id, payload):
    * (h, doc_id), h = sha256 of the raw payload — [[MediaAdmission]]'s
    * decodable item key. Undecodable rows (null OR sub-header payload
    * — the SAME [[MediaAdmission.decodable]] predicate the decision
    * arms use) carry no byte identity and are skipped, as
    * [[DedupIndex.build]] skips null text; with the shared predicate,
    * init-then-probe is exactly a composition of releases even for
    * corrupt rows (decide labels them `corrupt`, release never
    * appends them — so init must not index them either). */
  def buildByteIndex(media: DataFrame): DataFrame =
    media.filter(MediaAdmission.decodable)
      .select(sha2(col("payload"), 256).as("h"), col("doc_id"))

  private object ByteIndex extends OneArtifactIndex(
      IndexArtifact.rangeClustered("payload_hashes", "h")) {
    def build(media: DataFrame): DataFrame = buildByteIndex(media)
  }

  def readByteIndex(spark: SparkSession, base: String): DataFrame =
    ByteIndex.read(spark, bytehashDir(base))

  /** The release's two indexes — what init, the release appends,
    * compaction and retraction ([[ReleaseFlow.retractAll]]'s included)
    * iterate. */
  private[operators] def indexes(base: String): IndexSet =
    IndexSet(ByteIndex -> bytehashDir(base),
      StreamingMediaDedup -> phashDir(base))

  /** Initialize the artifact pair from the first media corpus version.
    * `media` must carry (doc_id, payload). */
  def init(media: DataFrame, base: String): Unit = indexes(base).write(media)

  /** Screen `shard` (doc_id, payload) against the persisted artifacts,
    * append the admitted slice to both, return the labeled decision
    * frame (`decision` column — the media admission reason
    * vocabulary). EAGER — checkpointed before the appends so the
    * screens provably see pre-append state. Corrupt rows (null or
    * sub-header payloads) get a decision row and are never indexed —
    * deterministic per-row rules, so a re-release re-labels them
    * identically. */
  def release(spark: SparkSession, shard0: DataFrame, base: String): DataFrame = {
    // Pin the SHARD once before screening — [[ReleaseFlow.release]]'s
    // r14 lesson on the media column: decide() probes the batch from
    // four subtrees (decode, perceptual screen, byte screen, final
    // join), so an unpinned shard LINEAGE re-executes per arm — a
    // multiplier whenever the lineage carries compute (a planted
    // construction, an upstream decode). Eager, like every admission
    // pin; bounded by SHARD size, never the corpus.
    val shard = shard0.localCheckpoint()
    val gates = MediaAdmission.Gates(
      StreamingMediaDedup.readIndex(spark, phashDir(base)),
      exactHashes = Some(readByteIndex(spark, base).select("h")))
    // the admission step ([[IndexSet.admitDeferred]]): decisions pinned
    // BEFORE the appends mutate state, the admitted slice appended to
    // both artifacts
    val (decisions, joinAppends) =
      indexes(base).admitDeferred(MediaAdmission.decide(shard, gates))
    joinAppends()
    decisions.withColumnRenamed("reason", "decision")
  }

  /** RETRACTION on the media column — [[ReleaseFlow.retract]]'s
    * contract over the artifact pair: remove every byte-hash,
    * signature, and band row derived from `docIds`, as if those items
    * had never been released (RetractSpec pins multiset equality with
    * the pre-release artifacts and with a complement rebuild). */
  def retract(spark: SparkSession, docIds: DataFrame, base: String): Unit =
    indexes(base).retract(spark, docIds)

  /** Compact both artifacts — [[ReleaseFlow.compact]]'s maintenance op
    * for the media lifecycle (see [[Compaction]]). */
  def compact(spark: SparkSession, base: String): Unit =
    indexes(base).compact(spark)

  /** The release audit rollup — decisions per reason with an identity
    * checksum, the accounting row a media release report carries. */
  def audit(decided: DataFrame): DataFrame =
    decided.groupBy("decision")
      .agg(count(lit(1)).as("n_items"), sum("doc_id").as("doc_id_sum"))
      .orderBy("decision")
}
