package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PERSISTED winnowing-fingerprint index — l74's build/probe split,
  * the same lifecycle discipline as [[SubstringIndex]] but at 2/(w+1)
  * of its row count: instead of one row per corpus token position, the
  * index stores only the winnowing-SELECTED fingerprints (Schleimer et
  * al. 2003 §3 — the minimum hash of each w-window of k-gram hashes,
  * rightmost on ties), with the published guarantee that any verbatim
  * overlap of at least k + w − 1 tokens between a probe document and
  * an indexed document shares at least one stored fingerprint. That
  * makes this the CHEAP first-pass screen of the substring family: a
  * shard can be winnow-screened against a 40%-sized artifact, and only
  * the flagged documents need the exact span work
  * ([[SubstringIndex.spansAgainst]] / [[SamplingQueries
  * .cutAgainstIndex]]) — the two-tier probe a 100 TB deployment
  * actually runs.
  *
  * One row per selected fingerprint: (h, doc_id) — `h` the 32-bit
  * md5-prefix gram hash ([[AuditQueries.winnowSelect]]'s key div 2²⁰;
  * xxhash64 is the drop-in production key, same note as
  * [[SubstringIndex]]). Files range-cluster by `h` (the layout is
  * [[IndexArtifact]]'s) so parquet footer min/max carry real
  * selectivity for hash-keyed probes.
  *
  * Append/retract contract: [[DocIndex]]'s — winnow selection is
  * per-doc (window-min inside one document, never across), so dropping
  * a doc's rows equals a rebuild without it exactly.
  */
object WinnowIndex extends OneArtifactIndex(
    IndexArtifact.rangeClustered(WinnowIndex.FmtDir, "h")) {

  /** The artifact's key-format VERSION, encoded in the directory name so
    * a format change fails LOUDLY at read (PATH_NOT_FOUND) instead of
    * silently matching nothing: the winnow screen is a safety tier — a
    * stale-format artifact probed under a new key function would yield
    * zero tier-1 matches and under-flag verbatim repeats without any
    * error. v2 = masked xxhash64 keys (v1 was the md5-prefix stand-in,
    * retired in round 14). Bump this whenever [[fingerprints]]' key
    * derivation changes. */
  private final val FmtDir = "winnow_fp_v2"

  /** One row per distinct selected fingerprint hash per document,
    * `keyCols` carried through. Per-doc dedup is a row-local
    * array_distinct — no corpus-wide distinct shuffle — and key
    * columns ride the same row, so no consumer re-joins the corpus
    * just to recover them. PRODUCTION keys (`hashed = true`):
    * codegen'd xxhash64 grams, the same key-form split as
    * [[SubstringIndex]] — tier 1 hashes every shard doc, and the md5
    * stand-in measured ~1.5× the whole exact probe at a 10k-doc shard
    * (BENCH_NOTES round 14); the winnowing guarantee is hash-agnostic,
    * so only l74's oracle-replayed DQ keeps md5. */
  private def fingerprints(corpus: DataFrame,
      keyCols: Seq[String]): DataFrame =
    // winnow-once reuse: the gate pin carries the per-doc distinct
    // fingerprint array ([[AuditQueries.winnowDocHashes]]) — project it
    // instead of re-running the gram-hash + window-min chain (explode
    // of null drops exactly the docs the length filter drops)
    if (corpus.columns.contains(LlmQueries.PreWinnow))
      corpus.select(keyCols.map(col) :+
        explode(col(LlmQueries.PreWinnow)).as("h"): _*)
    else
      AuditQueries.winnowArrays(corpus, keyCols, hashed = true)
        .select(keyCols.map(col) :+ explode(expr(
          "array_distinct(transform(minkeys, k -> k div 1048576))")).as("h"): _*)

  /** The index frame of a corpus (lang, doc_id, text): one row per
    * distinct selected fingerprint hash per document. */
  def build(corpus: DataFrame): DataFrame =
    fingerprints(corpus, Seq("doc_id"))

  override def append(newDocs: DataFrame, base: String): Unit = {
    // an append without a prior CURRENT-format write would silently
    // create a fresh partial artifact beside a retired-format one —
    // the tier would then read only post-upgrade docs and under-flag
    // verbatim repeats with no error (the exact failure the versioned
    // directory exists to prevent). Appends require the v-current dir.
    val dir = new org.apache.hadoop.fs.Path(artifact.dir(base))
    val fs = dir.getFileSystem(
      newDocs.sparkSession.sparkContext.hadoopConfiguration)
    require(fs.exists(dir),
      s"winnow append: no $FmtDir artifact under $base — append requires a " +
        "prior init/write in the current key format; a retired-format " +
        "directory here means rebuild the artifact, don't append to it")
    super.append(newDocs, base)
  }

  /** Screen NEW documents against the indexed corpus: per probe doc,
    * the count of its selected fingerprints that exist in the index
    * and the distinct indexed documents sharing one — (lang, doc_id,
    * n_shared_fp, n_index_docs), hit rows only. By the winnowing
    * guarantee, any probe doc sharing a ≥ k+w−1-token verbatim run
    * with an indexed doc IS in this frame; a doc absent from it needs
    * no exact span work. Only the probe side tokenizes — the index
    * side is a hash-keyed projection scan of the persisted files.
    * Probe ids must be disjoint from indexed ids. */
  def screenAgainst(newDocs: DataFrame, index: DataFrame): DataFrame =
    fingerprints(newDocs, Seq("lang", "doc_id"))
      .join(index.select(col("h"), col("doc_id").as("corpus_id")), Seq("h"))
      .groupBy("lang", "doc_id")
      .agg(countDistinct("h").as("n_shared_fp"),
        countDistinct("corpus_id").as("n_index_docs"))
}
