package graft.operators

import org.apache.spark.sql.DataFrame

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
  * Files range-cluster by gram hash (the layout is [[IndexArtifact]]'s)
  * so each parquet file covers a narrow gram-hash range: row-group
  * min/max stats carry real selectivity for gram-keyed probes, and the
  * ≥2-doc aggregation reads hash-local files. The hashed form is the
  * 100 TB wire format everywhere (SubstringSpanSpec pins hashed ≡
  * string on the composed plan, and probe-from-disk ≡ composed here).
  *
  * Append/retract contract: [[DocIndex]]'s — gram rows are a PURE
  * per-row function of a document. This is the largest index by an
  * order of magnitude (one row per corpus token position), so its
  * compaction and retraction are the costliest of the family.
  */
object SubstringIndex extends OneArtifactIndex(
    IndexArtifact.rangeClustered("span_grams", "gram")) {

  /** The index frame of a corpus (lang, doc_id, text): positional
    * hashed [[SamplingQueries.SpanK]]-grams. */
  def build(corpus: DataFrame): DataFrame =
    SamplingQueries.spanGrams(corpus, SamplingQueries.SpanK, hashed = true)

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
}
