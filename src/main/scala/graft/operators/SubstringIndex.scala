package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The PERSISTED substring index — l33's build/probe split, the same
  * lifecycle discipline as [[AnnIndexes]]: the positional hashed-gram
  * frame is written to parquet ONCE (it IS the substring index — one
  * 12-byte row per corpus token position: 8-byte xxhash64 gram + pos +
  * doc_id), then every consumer probes from disk instead of re-running
  * the corpus-wide tokenize + posexplode:
  *
  *  - batch span accounting ([[spans]]) — the l33 probe, reading grams
  *    instead of text;
  *  - incremental screening of NEW documents against the indexed corpus
  *    ([[spansAgainst]]) — the daily-ingest shape, where only the new
  *    shard tokenizes;
  *  - the streaming verbatim gate ([[graft.streaming.StreamingSubstring
  *    .indexFrom]]) — its distinct-gram screen is a projection of this
  *    same artifact, so the gate and the batch audit share provenance.
  *
  * Files cluster by gram hash (repartition on `gram`, sorted within
  * partitions) so each parquet file covers a narrow gram-hash range:
  * row-group min/max stats carry real selectivity for gram-keyed
  * probes, and the ≥2-doc aggregation reads hash-local files. The
  * hashed form is the 100 TB wire format everywhere (SubstringSpanSpec
  * pins hashed ≡ string on the composed plan, and probe-from-disk ≡
  * composed here).
  *
  * Append contract (same as [[AnnIndexes.appendLsh]]): gram rows are a
  * PURE per-row function of a document — no trained state — so
  * append-then-probe equals a full rebuild exactly, provided appended
  * doc_ids don't collide with indexed ones (the caller's id authority,
  * same as every other index here).
  */
object SubstringIndex {

  /** The index frame of a corpus (lang, doc_id, text): positional
    * hashed [[SamplingQueries.SpanK]]-grams. */
  def build(corpus: DataFrame): DataFrame =
    SamplingQueries.spanGrams(corpus, SamplingQueries.SpanK, hashed = true)

  /** Build and persist, clustered by gram hash. RANGE partitioning, not
    * hash: each parquet file must cover a NARROW gram-hash range for
    * its footer min/max to carry selectivity (a hash-partitioned file's
    * min/max spans ~the whole int64 domain, so a gram-keyed probe could
    * never skip a file — only row groups within the sorted files). */
  def write(corpus: DataFrame, base: String): Unit =
    build(corpus).repartitionByRange(col("gram"))
      .sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(s"$base/span_grams")

  /** Incremental build: gram rows for `newDocs` land beside the
    * existing files, clustered the same way. */
  def append(newDocs: DataFrame, base: String): Unit =
    Compaction.appendInto(newDocs.sparkSession, s"$base/span_grams") {
      live =>
        build(newDocs).repartitionByRange(col("gram"))
          .sortWithinPartitions("gram")
          .write.mode("append").parquet(live)
    }

  def read(spark: SparkSession, base: String,
      schema: Option[StructType] = None): DataFrame =
    Compaction.readLive(spark, s"$base/span_grams", schema)

  /** Restore the range-clustered layout after an append chain — see
    * [[Compaction]]. Row multiset unchanged. This is the artifact
    * compaction matters most for: one 12-byte row per corpus token
    * position makes it the largest index by an order of magnitude,
    * and its probes are all gram-keyed. */
  def compact(spark: SparkSession, base: String): Unit =
    Compaction.rewrite(spark, s"$base/span_grams")(
      _.repartitionByRange(col("gram")).sortWithinPartitions("gram"))

  /** Remove every positional-gram row of documents in `ids` (a doc_id
    * frame) — [[Compaction.retract]]'s contract on this artifact:
    * equals a rebuild without those documents exactly. The costliest
    * retraction of the family (this is the largest index), priced as
    * one compaction of it. */
  def retract(spark: SparkSession, ids: DataFrame, base: String): Unit =
    retractPinned(spark, ids.select("doc_id").distinct().localCheckpoint(),
      base)

  /** [[retract]] for an already-materialized id frame (the combined
    * [[ReleaseFlow.retract]] pins once across all four artifacts). */
  private[graft] def retractPinned(spark: SparkSession, pinned: DataFrame,
      base: String): Unit =
    Compaction.retract(spark, s"$base/span_grams", pinned)(
      _.repartitionByRange(col("gram")).sortWithinPartitions("gram"))

  /** l33's span accounting, probed FROM the persisted index: `corpus`
    * supplies only the per-language doc counts (an id/lang projection —
    * no tokenize), the gram work reads `index`. Identical to the
    * composed [[SamplingQueries.substringSpans]] by construction
    * (shared [[SamplingQueries.substringSpansFrom]]). */
  def spans(corpus: DataFrame, index: DataFrame): DataFrame =
    SamplingQueries.substringSpansFrom(corpus, index, SamplingQueries.SpanK)

  /** Screen NEW documents against the indexed corpus: every maximal
    * span of `newDocs` whose member grams ALL exist somewhere in the
    * index — the incremental-ingest probe, where only the new shard
    * pays tokenization and the corpus side is a gram-projection scan of
    * the persisted files. Returns the [[SamplingQueries.spanRollup]]
    * frame over `newDocs`. `newDocs` ids must be disjoint from indexed
    * ids (else a replayed doc would self-match its own index rows). */
  def spansAgainst(newDocs: DataFrame, index: DataFrame): DataFrame = {
    val k = SamplingQueries.SpanK
    val hits = build(newDocs)
      .join(index.select("gram").distinct(), Seq("gram"), "left_semi")
    SamplingQueries.spanRollup(newDocs, SamplingQueries.mergeSpans(hits, k))
  }

  /** The TWO-TIER incremental probe: screen the shard against the
    * [[WinnowIndex]] first (the 2/(w+1)-sized fingerprint artifact),
    * then run the exact span probe over the FLAGGED documents only.
    * Output ≡ [[spansAgainst]] by the winnowing guarantee — any doc
    * with a [[SamplingQueries.SpanK]]-token verbatim hit shares a
    * ≥ k+w−1-token run with an indexed doc (15 ≥ 8) and is therefore
    * winnow-flagged, so restricting the exact probe to flagged docs
    * drops nothing (WinnowIndexSpec pins the subset relation,
    * SubstringIndexSpec the composed row equality; the paper's
    * guarantee assumes distinct hashes inside a shared window — a
    * 2⁻³² per-window event otherwise). At 100 TB only the flagged
    * fraction of the shard pays the positional-gram explode and the
    * big-index probe; the first tier reads the small artifact. */
  def spansAgainstTiered(newDocs: DataFrame, winnow: DataFrame,
      index: DataFrame): DataFrame = {
    val flagged = WinnowIndex.screenAgainst(newDocs, winnow)
      .select("doc_id")
    val candidates = newDocs.join(flagged, Seq("doc_id"), "left_semi")
    val k = SamplingQueries.SpanK
    val hits = build(candidates)
      .join(index.select("gram").distinct(), Seq("gram"), "left_semi")
    SamplingQueries.spanRollup(newDocs, SamplingQueries.mergeSpans(hits, k))
  }
}
