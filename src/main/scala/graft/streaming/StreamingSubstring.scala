package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{SamplingQueries, SubstringIndex}

/** Streaming verbatim-repeat screen — incoming documents checked for
  * any [[SamplingQueries.SpanK]]-token span already present VERBATIM in
  * the admitted corpus: the ingest-side counterpart of batch L33
  * (ExactSubstr), closing the dedup-gate ladder at its finest
  * granularity. The admission family now mirrors the batch family
  * one-for-one: L17↔l1 (exact copy), L18↔l9 (near-dup), this↔l33
  * (verbatim span), L30↔l25 (eval leakage), repetitive↔l27.
  *
  * Same Spark-first decomposition as [[StreamingDecontam]] — the two
  * screens are deliberately the same machinery at different widths and
  * index provenance:
  *
  *  - the INDEX is the distinct hashed (15-gram, owning doc) rows of
  *    the admitted corpus ([[SamplingQueries.docGramsK]] — identical
  *    tokenization to l33's positional grams by construction), 8-byte
  *    xxhash64 keys plus the owner id;
  *  - the STREAM side explodes each incoming doc to its distinct
  *    hashed 15-grams map-side and equi-joins the index, excluding
  *    SELF-owned grams (the replay-idempotence guard); one overlap row
  *    per shared (gram, owner), deduped by the caller.
  *
  * SCALE CAVEAT, by design: unlike L30's eval-set-sized index, this
  * index is CORPUS-sized (≈ one 8-byte row per corpus token). At 100 TB
  * the gate screens against a bounded recency window (the last N days
  * of admitted docs — re-crawl loops and syndication repeats are
  * temporally local), with batch l33 as the full-corpus audit — the
  * same firewall/audit split as the other gates' staleness contracts.
  * Docs under 15 tokens carry no span gram and are admissible by
  * construction (they are also below l31's length bar).
  */
object StreamingSubstring {

  /** Distinct hashed (SpanK-gram, owning corpus doc) rows of the
    * admitted corpus (`doc_id`, `text`). The index carries the OWNER id
    * so [[screenRaw]] can exclude self-matches — what makes a crash
    * replay of the live admission pipeline decision-idempotent (a
    * replayed batch whose append survived must not flag its own
    * spans). Cost vs the old gram-only set: 8 bytes/row and a per-gram
    * fan-out equal to the gram's document frequency — ~1 for 15-grams
    * outside boilerplate, and boilerplate is what the screen EXISTS to
    * flag. */
  def buildIndex(corpus: DataFrame): DataFrame =
    SamplingQueries.docGramsK(corpus, Seq("doc_id"), SamplingQueries.SpanK,
        hashed = true)
      .select(col("gram"), col("doc_id").as("corpus_id")).distinct()

  /** The documented BOUNDED deployment, as a call instead of a caller's
    * exercise: index only documents admitted within `horizon` of the
    * corpus' newest admission (`tsCol`) — re-crawl loops and
    * syndication repeats are temporally local, so the gate screens a
    * recency window while batch l33 audits the full corpus. The cutoff
    * is computed IN-PLAN (a broadcast 1-row max, no driver action), so
    * the helper composes lazily like every other index builder; a span
    * seen only PAST the horizon is invisible to the gate by
    * construction (StreamingSubstringSpec pins it admits). */
  def buildIndexSince(corpus: DataFrame, tsCol: String,
      horizon: String): DataFrame = {
    val cutoff = corpus.agg(max(col(tsCol)).as("_max_ts"))
    buildIndex(corpus
      .crossJoin(broadcast(cutoff))
      .filter(col(tsCol) >= col("_max_ts") - expr(s"INTERVAL $horizon"))
      .drop("_max_ts"))
  }

  /** The gate's screen set as a PROJECTION of the persisted substring
    * index ([[SubstringIndex]] — the same artifact batch l33 probes),
    * so the streaming gate and the batch audit share provenance: one
    * build job signs the corpus once, both consumers read it. Same
    * (gram, owner) SET as [[buildIndex]] on the same corpus, not
    * de-duplicated: a gram at several positions of one doc, or a
    * replayed append, repeats its row, so callers dedup their hits
    * ([[screenRaw]]'s contract). A `distinct` here would aggregate the
    * whole index on every probe. */
  def indexFrom(spanGrams: DataFrame): DataFrame =
    spanGrams.select(col("gram"), col("doc_id").as("corpus_id"))

  /** [[indexFrom]] over [[SubstringIndex.read]]: resolve the gate's
    * screen set from the persisted index directory by path (`schema`:
    * the span-gram schema, when already resolved). Same (gram, owner)
    * set as [[buildIndex]]; callers dedup. */
  def fromPersisted(spark: SparkSession, base: String,
      schema: Option[StructType] = None): DataFrame =
    indexFrom(SubstringIndex.read(spark, base, schema))

  /** Persist sorted by gram for min/max row-group skipping.
    *
    * NOTE: a deployment that already maintains the full
    * [[SubstringIndex]] (for batch probes / appends) should prefer
    * [[fromPersisted]] over a second distinct-gram artifact — this
    * write exists for gate-only deployments where the positional index
    * would be dead weight. */
  def writeIndex(index: DataFrame, base: String): Unit =
    index.sortWithinPartitions("gram")
      .write.mode("overwrite").parquet(s"$base/corpus_spans")

  /** Manifest-aware, like [[fromPersisted]]'s underlying
    * [[SubstringIndex.read]]: a retracted-into gate artifact resolves
    * to its live files (GateReadLiveSpec). */
  def readIndex(spark: SparkSession, base: String): DataFrame =
    graft.operators.Compaction.readLive(spark, s"$base/corpus_spans")

  /** The screen (gram explode + equi-join + owner exclusion; stateless)
    * — the composed admission decision runs it inside `foreachBatch`. A doc sharing several spans (or one span owned by
    * several corpus docs) emits several rows; callers dedup. The owner
    * exclusion is the replay-idempotence guard: a doc screened against
    * an index already holding its OWN grams (the crash-replay state
    * under a live append) emits nothing for them. `excludeOwners`
    * widens the guard from self-id to a caller-supplied owner-id set
    * (column `corpus_id`) — the admission pipeline passes the BATCH's
    * id set, so a replayed batch whose append held two docs sharing a
    * span re-admits both instead of each flagging against the other's
    * surviving index rows. */
  def screenRaw(df: DataFrame, index: DataFrame,
      keep: Seq[String] = Nil,
      excludeOwners: Option[DataFrame] = None): DataFrame = {
    val hits = SamplingQueries.docGramsK(df, Seq("doc_id") ++ keep,
        SamplingQueries.SpanK, hashed = true)
      .join(index, Seq("gram"))
    excludeOwners
      .map(own => hits.join(own.select("corpus_id"), Seq("corpus_id"),
        "left_anti"))
      .getOrElse(hits.filter(col("corpus_id") =!= col("doc_id")))
      .select("doc_id", keep: _*)
  }
}
