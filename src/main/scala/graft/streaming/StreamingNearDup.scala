package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DocIndex, IndexArtifact, LlmQueries}

/** Streaming NEAR-duplicate screen — incoming documents checked against
  * the landed corpus before admission, the ingest-side counterpart of
  * batch L9 (exact-copy screening is [[StreamingDedup]]; this catches
  * re-crawls and boilerplate variants that hash differently).
  *
  * Spark-first decomposition:
  *
  *  - The CORPUS index is built in batch by the same shared map-side
  *    sketch stage as l9 ([[LlmQueries.docSketch]] — identical shingle
  *    hashing, identical `graft_minhash` signature by construction) and
  *    consists of two frames: the per-doc sketch and its 16×4 band
  *    keys. Both persist as parquet (each range-clustered by its join
  *    key — [[artifacts]]) and are appended as batches land;
  *    [[buildIndex]]'s frames let specs compose them directly.
  *  - The STREAM side is stateless per row until the final dedup: the
  *    incoming doc's sketch and band keys are computed map-side, then
  *    candidates come from STREAM-STATIC equi-joins — band keys against
  *    the band index, survivors against the sketch frame for the exact
  *    Jaccard (`array_intersect`, same arithmetic as l9's verification,
  *    same ≥ threshold contract). No all-pairs step, no stream-side
  *    aggregation.
  *  - A pair matched by several bands emits several identical rows;
  *    the only stateful operator is `dropDuplicatesWithinWatermark` on
  *    the (incoming, corpus) pair — watermark-bounded state, same
  *    contract as [[StreamingDedup.withinWatermark]].
  *
  * Output: one row per flagged (incoming doc, corpus doc) pair with the
  * exact Jaccard ×10000. Admission policy (quarantine vs drop vs tag)
  * is the caller's sink decision — typically `foreachBatch` anti-joining
  * the microbatch against the flagged ids before landing.
  */
object StreamingNearDup extends DocIndex {

  /** Jaccard admission threshold ×10000 — l9's near-dup bar. */
  val DefaultThresholdE4 = 6000L

  /** Batch-built corpus index: `sketch` = (doc_id, shs, n_sh, sig),
    * `bands` = (doc_id, band_id, bkey). */
  final case class Index(sketch: DataFrame, bands: DataFrame)

  def buildIndex(corpus: DataFrame): Index = {
    val sk = LlmQueries.docSketch(corpus)
    Index(sk, bandsOf(sk))
  }

  private def bandsOf(sk: DataFrame): DataFrame =
    LlmQueries.minhashBuckets(sk.select("doc_id", "sig"))

  /** The sketch frame, clustered by doc_id for the verify join. */
  private val Sketch = IndexArtifact.rangeClustered("sketch", "doc_id")

  /** The band keys, clustered by (band_id, bkey) for the probe
    * equi-join. */
  private val Bands =
    IndexArtifact.rangeClustered("bands", "band_id", "bkey")

  /** Persisted form — the steady-state contract: the corpus is sketched
    * ONCE per refresh in batch (both artifacts derive from the one
    * pinned sketch, [[DocIndex]]), and every streaming screen reads the
    * SAME materialized frames instead of re-sketching 100 TB per query
    * start.
    *
    * Incremental append — newly admitted docs join the persisted corpus
    * index without a rebuild. Sketch and band rows are a PURE per-row
    * function of the text (the same map-side stage as [[buildIndex]]),
    * so append-then-read equals a rebuild over the union corpus
    * exactly. Caller contract, as for `appendIvf`: appended docs should
    * be disjoint from already-indexed doc_ids — a replayed overlapping
    * batch lands duplicate rows, which downstream screens tolerate (the
    * pair-level `distinct`/`dropDuplicates` collapses them, so
    * DECISIONS are unaffected) but which cost index bytes until the
    * next batch rebuild compacts them. */
  protected def derive(docs: DataFrame): DataFrame = LlmQueries.docSketch(docs)

  /** A gate-pinned frame already carries the sketch, which
    * [[LlmQueries.docSketch]] then only projects. */
  override protected def derives(docs: DataFrame): Boolean =
    !LlmQueries.carriesSketch(docs)

  protected def parts: Seq[(IndexArtifact, DataFrame => DataFrame)] =
    Seq(Sketch -> identity, Bands -> bandsOf)

  /** `like`: an earlier read of the same index, whose schemas this
    * read reuses instead of inferring them again. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, base: String,
      like: Option[Index] = None): Index =
    Index(Sketch.read(spark, base, like.map(_.sketch.schema)),
      Bands.read(spark, base, like.map(_.bands.schema)))

  /** Screen a streaming document frame (doc_id, text, `tsCol`) against
    * `idx`. Emits flagged pairs (doc_id, corpus_id, jac_e4, `tsCol`);
    * a doc with no flagged pair produces no row (it is admissible).
    * Docs under 3 tokens carry no 3-shingle signal and are admissible
    * by construction, exactly as batch l9 skips them.
    *
    * The sketch payload (shs, n_sh, ts) rides THROUGH the band explode
    * rather than re-joining the stream to itself afterwards — a
    * stream-stream self-join would demand its own watermark/time-range
    * machinery for what is a purely row-local duplication. Cost: the
    * doc's shingle array appears on its 16 band rows; rows this wide
    * exist only between the map stage and the band join's shuffle. */
  def screen(stream: DataFrame, idx: Index, tsCol: String, delay: String,
      thresholdE4: Long = DefaultThresholdE4): DataFrame =
    screenRaw(stream, idx, Seq(tsCol), thresholdE4)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")

  /** [[screenRaw]] for BATCH frames — same flagged pairs, batch-only
    * dataflow: the stream form must carry the doc's shingle payload
    * THROUGH the 16× band explode (a stream-stream self-join would
    * need its own watermark machinery), which puts the ~w-shingle
    * array on every band row — 16× the verify-join bytes and 16
    * array_intersects per matched pair. A batch frame can re-join
    * itself, so here the band join carries bare (doc_id, band_id,
    * bkey) rows, candidate pairs collapse to DISTINCT (doc_id,
    * corpus_id) BEFORE the sketch payloads attach, and the exact
    * Jaccard runs once per pair (guide §2.3: shuffle keys, attach
    * payloads after the decision). Decision-identical to screenRaw
    * modulo per-band row multiplicity — same pair set, same
    * threshold — and every batch caller dedups anyway (the admission
    * decision aggregates to one flag word per doc). On a frame
    * carrying the reserved sketch columns (the release gates' pinned
    * shard) the two docSketch references below are both cheap
    * projections of the checkpoint. */
  def screenBatch(df: DataFrame, idx: Index, keep: Seq[String],
      thresholdE4: Long = DefaultThresholdE4): DataFrame = {
    val sk = LlmQueries.docSketch(df, keep = keep)
    val bands = LlmQueries.minhashBuckets(sk.select("doc_id", "sig"))
    val corpusBands = idx.bands
      .select(col("doc_id").as("corpus_id"), col("band_id"), col("bkey"))
    val pairs = bands
      .join(corpusBands, Seq("band_id", "bkey"))
      .select("doc_id", "corpus_id").distinct()
    val corpusSketch = idx.sketch
      .select(col("doc_id").as("corpus_id"),
        col("shs").as("c_shs"), col("n_sh").as("c_n"))
    pairs
      .join(sk.drop("sig"), "doc_id")
      .join(corpusSketch, "corpus_id")
      .withColumn("n_inter",
        size(array_intersect(col("shs"), col("c_shs"))).cast("long"))
      .withColumn("jac_e4",
        round(col("n_inter") * lit(10000.0) /
          (col("n_sh") + col("c_n") - col("n_inter"))).cast("long"))
      .filter(col("jac_e4") >= thresholdE4)
      .select(Seq(col("doc_id"), col("corpus_id"), col("jac_e4")) ++
        keep.map(col): _*)
  }

  /** The STATELESS part of [[screen]]: band + verify joins only, no
    * watermark, so it runs on a batch frame as well as a stream — the
    * per-microbatch admission decision ([[AdmissionPipeline.decide]])
    * composes it inside `foreachBatch`, where the pair-level dedup is
    * a plain `distinct`. A pair matched by several bands emits one row
    * per matching band. */
  def screenRaw(df: DataFrame, idx: Index, keep: Seq[String],
      thresholdE4: Long = DefaultThresholdE4): DataFrame = {
    val bands = LlmQueries.minhashBuckets(
      LlmQueries.docSketch(df, keep = keep),
      keep = Seq("shs", "n_sh") ++ keep)
    val corpusBands = idx.bands
      .select(col("doc_id").as("corpus_id"), col("band_id"), col("bkey"))
    val corpusSketch = idx.sketch
      .select(col("doc_id").as("corpus_id"),
        col("shs").as("c_shs"), col("n_sh").as("c_n"))
    bands
      .join(corpusBands, Seq("band_id", "bkey")) // stream-static equi-join
      .join(corpusSketch, "corpus_id")           // stream-static equi-join
      .withColumn("n_inter",
        size(array_intersect(col("shs"), col("c_shs"))).cast("long"))
      .withColumn("jac_e4",
        round(col("n_inter") * lit(10000.0) /
          (col("n_sh") + col("c_n") - col("n_inter"))).cast("long"))
      .filter(col("jac_e4") >= thresholdE4)
      .select(Seq(col("doc_id"), col("corpus_id"), col("jac_e4")) ++
        keep.map(col): _*)
  }
}
