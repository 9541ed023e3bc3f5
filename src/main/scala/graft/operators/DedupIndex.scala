package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The PERSISTED exact-dedup index — the build/probe split behind the
  * whole exact-dedup family, same lifecycle discipline as
  * [[AnnIndexes]] (LSH/IVF), [[SubstringIndex]] (verbatim spans), and
  * the decontamination artifacts: the corpus' canonical content hashes
  * are written ONCE per release (one 40-byte row per document: 32-byte
  * sha256 + doc_id), then every consumer probes from disk instead of
  * re-hashing the corpus:
  *
  *  - incremental release screening ([[CorpusOpsQueries.screenAgainst]]
  *    over [[read]]) — l46's probe, where only the increment hashes
  *    and the v(n−1) side is a hash-projection scan of the persisted
  *    files;
  *  - streaming admission seeding — the dual-layer deployment of L17
  *    ([[graft.streaming.StreamingDedup]]'s scaladoc): watermark-bounded
  *    state catches intra-horizon copies, and a stream-static LEFT SEMI
  *    probe of this artifact inside `foreachBatch` catches re-crawls of
  *    the LANDED corpus — the same gate-then-backstop split as L30's
  *    persisted eval index;
  *  - the dedup accounting itself (l1's groupBy runs over hash rows,
  *    never text, when this index exists).
  *
  * Files range-cluster by `h` (the layout is [[IndexArtifact]]'s) so
  * footer min/max stats carry real selectivity for hash-keyed probes.
  * The hash is [[contentHash]] — l1's normHash and L17's stream state
  * key BY CONSTRUCTION (one definition, three consumers), so batch
  * dedup, streaming gate, and release screen can never disagree on what
  * "same document" means.
  *
  * Append/retract contract: [[DocIndex]]'s — a hash row is a PURE
  * per-row function of a document.
  */
object DedupIndex extends OneArtifactIndex(
    IndexArtifact.rangeClustered("content_hashes", "h")) {

  /** THE canonical content hash — delegates to [[LlmQueries.normHash]]
    * (l1's definition, also the streaming dedup state key), so the three
    * consumers share ONE textual definition that cannot drift. */
  private[graft] def contentHash: Column = LlmQueries.normHash

  /** The index frame of a corpus carrying `text`: (h, doc_id). */
  def build(corpus: DataFrame): DataFrame =
    corpus.filter(col("text").isNotNull)
      .select(contentHash.as("h"), col("doc_id"))

  /** Split a batch of candidate documents against the index: rows whose
    * content the index already holds are dropped, the rest pass — the
    * `foreachBatch` backstop probe of the streaming deployment (L17's
    * state handles the intra-horizon window; this catches everything
    * older). One LEFT ANTI equi-join on `h`; only the batch hashes. */
  def novelOnly(batch: DataFrame, index: DataFrame): DataFrame =
    batch.filter(col("text").isNotNull)
      .withColumn("h", contentHash)
      .join(index.select("h"), Seq("h"), "left_anti")
      .drop("h")
}
