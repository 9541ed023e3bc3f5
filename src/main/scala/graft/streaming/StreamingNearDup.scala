package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LlmQueries

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
  *    keys. At 100 TB both persist as parquet (the band index bucketed
  *    by band key, the sketch by doc id) and are refreshed as batches
  *    land; here they are frames so specs compose them directly.
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
object StreamingNearDup {

  /** Jaccard admission threshold ×10000 — l9's near-dup bar. */
  val DefaultThresholdE4 = 6000L

  /** Batch-built corpus index: `sketch` = (doc_id, shs, n_sh, sig),
    * `bands` = (doc_id, band_id, bkey). */
  final case class Index(sketch: DataFrame, bands: DataFrame)

  def buildIndex(corpus: DataFrame): Index = {
    val sk = LlmQueries.docSketch(corpus)
    Index(sk, LlmQueries.minhashBuckets(sk.select("doc_id", "sig")))
  }

  /** Persist an index — the steady-state contract: the corpus is
    * sketched once per refresh in batch, and every streaming screen
    * reads the SAME materialized frames instead of re-sketching 100 TB
    * per query start. Band rows are laid out sorted by (band_id, bkey)
    * so a band-key equi-join scans clustered row groups; the sketch by
    * doc_id for the verification join. */
  def writeIndex(idx: Index, base: String): Unit =
    graft.operators.Par.run(
      () => idx.sketch.sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$base/sketch"),
      () => idx.bands.sortWithinPartitions("band_id", "bkey")
        .write.mode("overwrite").parquet(s"$base/bands"))

  /** `like`: an earlier read of the same index, whose schemas this
    * read reuses instead of inferring them again. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, base: String,
      like: Option[Index] = None): Index =
    Index(
      graft.operators.Compaction.readLive(spark, s"$base/sketch",
        like.map(_.sketch.schema)),
      graft.operators.Compaction.readLive(spark, s"$base/bands",
        like.map(_.bands.schema)))

  /** Restore both frames' clustered layout after an append chain —
    * see [[graft.operators.Compaction]]: bands re-cluster by
    * (band_id, bkey) for the probe equi-join, the sketch by doc_id
    * for the verify join. Row multisets unchanged. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      base: String): Unit =
    graft.operators.Par.run(
      () => graft.operators.Compaction.rewrite(spark, s"$base/sketch")(
        _.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")),
      () => graft.operators.Compaction.rewrite(spark, s"$base/bands")(
        _.repartitionByRange(col("band_id"), col("bkey"))
          .sortWithinPartitions("band_id", "bkey")))

  /** Remove every sketch and band row of documents in `ids` (a doc_id
    * frame) — [[graft.operators.Compaction.retract]]'s contract on both
    * frames: sketch and band rows are pure per-row functions of one
    * document, so the anti-join equals a rebuild without those
    * documents exactly. The id set is pinned ONCE before the first
    * swap ([[graft.operators.AnnIndexes.retract]]'s discipline): a
    * lazy frame whose lineage reads the sketch artifact would
    * otherwise re-evaluate after the sketch rewrite and silently
    * under-retract the bands. */
  def retractIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, base: String): Unit =
    retractIndexPinned(spark,
      ids.select("doc_id").distinct().localCheckpoint(), base)

  /** [[retractIndex]] for an ALREADY-materialized id frame — the
    * combined-lifecycle callers ([[graft.operators.ReleaseFlow
    * .retract]]) pin one id set across every artifact and must not pay
    * a second materialization per index. */
  private[graft] def retractIndexPinned(
      spark: org.apache.spark.sql.SparkSession,
      pinned: DataFrame, base: String): Unit =
    graft.operators.Par.run(
      () => graft.operators.Compaction.retract(spark, s"$base/sketch", pinned)(
        _.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")),
      () => graft.operators.Compaction.retract(spark, s"$base/bands", pinned)(
        _.repartitionByRange(col("band_id"), col("bkey"))
          .sortWithinPartitions("band_id", "bkey")))

  /** Incremental append — newly admitted docs join the persisted corpus
    * index without a rebuild (the [[graft.operators.AnnIndexes.appendLsh]]
    * pattern for the document sketch index). Sketch and band rows are a
    * PURE per-row function of the text (the same map-side stage as
    * [[buildIndex]]), so append-then-read equals a rebuild over the
    * union corpus exactly. Caller contract, as for `appendIvf`: `docs`
    * should be disjoint from already-indexed doc_ids — a replayed
    * overlapping batch lands duplicate rows, which downstream screens
    * tolerate (the pair-level `distinct`/`dropDuplicates` collapses
    * them, so DECISIONS are unaffected) but which cost index bytes
    * until the next batch rebuild compacts them. */
  def appendIndex(docs: DataFrame, base: String): Unit = {
    val spark = docs.sparkSession
    // eager pin FIRST: both appends derive from the one sketch frame
    val sk = LlmQueries.docSketch(docs).localCheckpoint()
    graft.operators.Par.run(
      () => graft.operators.Compaction.appendInto(spark, s"$base/sketch") {
        live =>
          // range-cluster like compactIndex (and like every other
          // index's append): the probe layout holds without waiting
          // for a compaction pass, AND the file count follows the
          // APPEND'S bytes (AQE coalescing) instead of the input
          // frame's partitioning — the release gates' pinned shard is
          // session-parallelism wide, and inheriting its partitioning
          // wrote one near-empty file per partition per append
          sk.repartitionByRange(col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("append").parquet(live)
      },
      () => graft.operators.Compaction.appendInto(spark, s"$base/bands") {
        live =>
          LlmQueries.minhashBuckets(sk.select("doc_id", "sig"))
            .repartitionByRange(col("band_id"), col("bkey"))
            .sortWithinPartitions("band_id", "bkey")
            .write.mode("append").parquet(live)
      })
  }

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
