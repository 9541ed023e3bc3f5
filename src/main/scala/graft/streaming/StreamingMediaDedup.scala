package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Multimodal
import graft.operators.{DocIndex, IndexArtifact, LlmQueries}

/** Streaming MEDIA near-duplicate screen — incoming media payloads
  * checked against the landed corpus' perceptual-hash index before
  * admission: the multimodal counterpart of [[StreamingNearDup]] (text
  * MinHash) and the ingest-side counterpart of batch l53, catching
  * re-encoded/re-uploaded copies whose bytes differ but whose
  * perceptual signature is within Hamming ≤ 3.
  *
  * Spark-first decomposition (the [[StreamingNearDup]] architecture on
  * the media column):
  *
  *  - The CORPUS index is two frames — (doc_id, sig) signatures and
  *    their 4×16-bit band keys — built in batch by the SAME signature
  *    math as l53 ([[Multimodal.signatureOf]], shared down to the
  *    histogram fold, so batch and stream can never disagree) and
  *    persisted as parquet ([[artifacts]]): bands range-clustered by
  *    (band_id, bkey) for the probe's equi-join, signatures by doc_id
  *    for the verify join.
  *  - The STREAM side is stateless per row: signature computed in
  *    place ([[Multimodal.sigCol]] — a per-row JVM map, no shuffle),
  *    bands exploded map-side, candidates from STREAM-STATIC
  *    equi-joins, exact Hamming on the 8-byte signatures (never
  *    payloads). Pigeonhole makes the bands COMPLETE for the ≤ 3-bit
  *    bar: a pair this close must agree on one of the four 16-bit
  *    slices, so banding loses nothing over all-pairs.
  *  - A pair matched by several bands dedups via
  *    `dropDuplicatesWithinWatermark` — the only stateful operator,
  *    watermark-bounded exactly as [[StreamingDedup.withinWatermark]].
  *
  * Output: one row per flagged (incoming doc, corpus doc) pair with
  * the Hamming distance. Admission policy is the caller's sink
  * decision, as for the text gates.
  */
object StreamingMediaDedup extends DocIndex {

  /** Batch-built corpus index: `sigs` = (doc_id, sig),
    * `bands` = (doc_id, band_id, bkey). */
  final case class Index(sigs: DataFrame, bands: DataFrame)

  /** Build from a (doc_id, payload) media frame. */
  def buildIndex(media: DataFrame): Index = {
    val sigs = derive(media)
    Index(sigs, Multimodal.sigBandFrame(sigs))
  }

  private val Sigs = IndexArtifact.rangeClustered("sigs", "doc_id")
  private val Bands =
    IndexArtifact.rangeClustered("bands", "band_id", "bkey")

  /** Persisted form — the steady-state contract: the corpus is signed
    * once per refresh in batch (both artifacts derive from the one
    * pinned signature frame, [[DocIndex]]); every streaming screen
    * reads the SAME materialized frames. Appends land newly admitted
    * media without a rebuild: signature and band rows are a PURE
    * per-row function of the payload, so append-then-read equals a
    * rebuild over the union corpus exactly; the replayed-batch
    * tolerance contract is [[StreamingNearDup]]'s. */
  protected def derive(media: DataFrame): DataFrame =
    media.select(col("doc_id"), Multimodal.sigCol(col("payload")).as("sig"))

  protected def parts: Seq[(IndexArtifact, DataFrame => DataFrame)] =
    Seq(Sigs -> identity, Bands -> (Multimodal.sigBandFrame(_)))

  /** `like`: an earlier read of the same index, whose schemas this
    * read reuses instead of inferring them again. */
  def readIndex(spark: SparkSession, base: String,
      like: Option[Index] = None): Index =
    Index(Sigs.read(spark, base, like.map(_.sigs.schema)),
      Bands.read(spark, base, like.map(_.bands.schema)))

  /** Screen a streaming media frame (doc_id, payload, `tsCol`) against
    * `idx`. Emits flagged pairs (doc_id, corpus_id, hamming, `tsCol`);
    * a doc with no flagged pair produces no row (it is admissible). */
  def screen(stream: DataFrame, idx: Index, tsCol: String, delay: String,
      hammingMax: Int = LlmQueries.PhashHammingMax): DataFrame =
    screenRaw(stream, idx, Seq(tsCol), hammingMax)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")

  /** The STATELESS part of [[screen]]: signature + band + verify joins
    * only, so it runs on a batch frame as well as a stream (the
    * per-microbatch admission composition, where the pair-level dedup
    * is a plain `distinct`). A pair matched by several bands emits one
    * row per matching band. */
  def screenRaw(df: DataFrame, idx: Index, keep: Seq[String],
      hammingMax: Int = LlmQueries.PhashHammingMax): DataFrame = {
    val sigs = df.select(Seq(col("doc_id"),
      Multimodal.sigCol(col("payload")).as("sig")) ++ keep.map(col): _*)
    val bands = Multimodal.sigBandFrame(sigs, keep = Seq("sig") ++ keep)
    val corpusBands = idx.bands
      .select(col("doc_id").as("corpus_id"), col("band_id"), col("bkey"))
    val corpusSigs = idx.sigs
      .select(col("doc_id").as("corpus_id"), col("sig").as("c_sig"))
    bands
      .join(corpusBands, Seq("band_id", "bkey")) // stream-static equi-join
      .join(corpusSigs, "corpus_id")             // stream-static equi-join
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("c_sig"))).cast("long"))
      .filter(col("hamming") <= hammingMax)
      .select(Seq(col("doc_id"), col("corpus_id"), col("hamming")) ++
        keep.map(col): _*)
  }
}
