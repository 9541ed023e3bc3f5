package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * Files cluster by hash (repartition + sortWithinPartitions on `h`) so
  * row-group min/max stats carry real selectivity for hash-keyed
  * probes, and a probe co-partitioned on `h` moves only the increment.
  * The hash is [[contentHash]] — l1's normHash and L17's stream state
  * key BY CONSTRUCTION (one definition, three consumers), so batch
  * dedup, streaming gate, and release screen can never disagree on what
  * "same document" means.
  *
  * Append contract (same as [[AnnIndexes.appendLsh]] /
  * [[SubstringIndex.append]]): a hash row is a PURE per-row function of
  * a document — no trained state — so append-then-probe equals a full
  * rebuild exactly.
  */
object DedupIndex {

  /** THE canonical content hash — delegates to [[LlmQueries.normHash]]
    * (l1's definition, also the streaming dedup state key), so the three
    * consumers share ONE textual definition that cannot drift. */
  private[graft] def contentHash: Column = LlmQueries.normHash

  /** The index frame of a corpus carrying `text`: (h, doc_id). */
  def build(corpus: DataFrame): DataFrame =
    corpus.filter(col("text").isNotNull)
      .select(contentHash.as("h"), col("doc_id"))

  /** Build and persist, clustered by hash. RANGE partitioning (same
    * argument as [[SubstringIndex.write]]): each file covers a narrow
    * hash range so footer min/max stats let hash-keyed probes skip
    * whole files, not just row groups. */
  def write(corpus: DataFrame, base: String): Unit =
    build(corpus).repartitionByRange(col("h"))
      .sortWithinPartitions("h")
      .write.mode("overwrite").parquet(s"$base/content_hashes")

  /** Incremental build: hash rows for `newDocs` land beside the
    * existing files, clustered the same way. */
  def append(newDocs: DataFrame, base: String): Unit =
    Compaction.appendInto(newDocs.sparkSession, s"$base/content_hashes") {
      live =>
        build(newDocs).repartitionByRange(col("h"))
          .sortWithinPartitions("h")
          .write.mode("append").parquet(live)
    }

  def read(spark: SparkSession, base: String,
      schema: Option[StructType] = None): DataFrame =
    Compaction.readLive(spark, s"$base/content_hashes", schema)

  /** Restore the range-clustered layout after an append chain — see
    * [[Compaction]]. Row multiset unchanged. */
  def compact(spark: SparkSession, base: String): Unit =
    Compaction.rewrite(spark, s"$base/content_hashes")(
      _.repartitionByRange(col("h")).sortWithinPartitions("h"))

  /** Remove every hash row of documents in `ids` (a doc_id frame) —
    * [[Compaction.retract]]'s contract on this artifact: equals a
    * rebuild without those documents exactly. */
  def retract(spark: SparkSession, ids: DataFrame, base: String): Unit =
    retractPinned(spark, ids.select("doc_id").distinct().localCheckpoint(),
      base)

  /** [[retract]] for an id frame the caller already materialized (the
    * combined [[ReleaseFlow.retract]] pins once across all four
    * artifacts). */
  private[graft] def retractPinned(spark: SparkSession, pinned: DataFrame,
      base: String): Unit =
    Compaction.retract(spark, s"$base/content_hashes", pinned)(
      _.repartitionByRange(col("h")).sortWithinPartitions("h"))

  /** Split a batch of candidate documents against the index: rows whose
    * content the index already holds are dropped, the rest pass — the
    * `foreachBatch` backstop probe of the streaming deployment (L17's
    * state handles the intra-horizon window; this catches everything
    * older). One LEFT ANTI equi-join on `h`; only the batch hashes. */
  def novelOnly(batch: DataFrame, index: DataFrame): DataFrame =
    batch.filter(col("text").isNotNull)
      .withColumn("h", contentHash)
      .join(index.select("h").distinct(), Seq("h"), "left_anti")
      .drop("h")
}
